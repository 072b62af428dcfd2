"""Log retention + checkpoint-anchored listing (VERDICT r10 item 1).

Before this round nothing ever deleted ``_log_`` metadata and every
snapshot replay / stream trigger LISTed the entire log prefix —
O(total commits) metadata per ``new_tx`` and per trigger at streaming
cadence (the reference shares the wart, transactions.go:58-62). Now:

- listings anchor past the newest checkpoint via the advisory
  ``_last_checkpoint`` pointer + ``start_after`` (S3 StartAfter);
- ``vacuum_log`` reclaims records/checkpoints strictly below the
  newest checkpoint past a retention window (Delta's
  logRetentionDuration);
- replay detects the resulting version gap and raises a NAMED error
  (never silently serves a state missing commits), streams positioned
  below the horizon fail loudly with the remedy, and the OCC version
  counter never reuses a truncated id (the retained checkpoint pins
  the high-water mark).

Also covers in-commit-timestamp monotonicity (VERDICT r10 item 5,
Delta's ICT): commit stamps ``max(now, prev_ts + 1)`` so the
TIMESTAMP AS OF / startingTimestamp binary searches stay exact under
writer clock skew.
"""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from delta_lake_experiment_spark.client import DeltaLakeClient
from delta_lake_experiment_spark.errors import (
    ConcurrentCommitError,
    HistoryTruncatedError,
    TableNotFoundError,
)
from delta_lake_experiment_spark.plans.snapshot import (
    CHECKPOINT_PREFIX,
    LAST_CHECKPOINT,
    LOG_PREFIX,
    log_name,
    newest_checkpoint_version,
    replay_log,
    write_last_checkpoint,
)
from delta_lake_experiment_spark.storage.objectstore import LocalObjectStorage


class _NoSparkConf:
    def set(self, k, v):
        pass

    def get(self, k, default=None):
        return default


class _NoSpark:
    conf = _NoSparkConf()

    def __getattr__(self, name):  # pragma: no cover
        raise AssertionError(f"test unexpectedly touched spark.{name}")


class CountingStore(LocalObjectStorage):
    """Counts LIST calls, LISTED KEYS RETURNED (the proxy for S3 LIST
    pages), and per-prefix reads — the metadata-cost meter."""

    def __init__(self, root):
        super().__init__(root)
        self.reset()

    def reset(self):
        self.list_calls = 0
        self.listed_keys = {}  # prefix -> keys returned across calls
        self.reads = {}  # prefix -> read calls

    def list_prefix_ordered(self, prefix, start_after=None):
        names = super().list_prefix_ordered(prefix, start_after=start_after)
        self.list_calls += 1
        self.listed_keys[prefix] = self.listed_keys.get(prefix, 0) + len(names)
        return names

    def read(self, name):
        for prefix in ("_log_", "_checkpoint_", "_last_checkpoint"):
            if name.startswith(prefix):
                self.reads[prefix] = self.reads.get(prefix, 0) + 1
                break
        return super().read(name)


def _seed_commits(root, n_commits, checkpoint_interval=32, store=None):
    c = DeltaLakeClient(
        _NoSpark(),
        store if store is not None else root,
        checkpoint_interval=checkpoint_interval,
    )
    c.new_tx()
    c.create_table("t", "k BIGINT, v BIGINT")
    c.commit_tx()
    for i in range(n_commits):
        c.new_tx()
        c.write_row("t", [i, i * 10])
        c.commit_tx()
    return c


@pytest.mark.slow
def test_new_tx_metadata_cost_is_checkpoint_tail_at_depth(tmp_path):
    """1 000+ commits (checkpoint every 32): a cold client's new_tx
    replays with O(commits since checkpoint) LISTED KEYS and log reads
    — not the 1 001-key, 1 001-read full-prefix walk of the unanchored
    form; the warm writer's new_tx folds only its own last commit."""
    store = CountingStore(str(tmp_path / "store"))
    c = _seed_commits(str(tmp_path / "store"), 1000, store=store)
    total = 1001  # create + 1000 writes
    tail = total % 32  # commits past the newest checkpoint

    store.reset()
    c.new_tx()
    c.abort_tx()
    # the writer kept its snapshot: one anchored LIST, one record read
    assert store.reads == {"_log_": 1}
    assert store.listed_keys == {"_log_": 1}
    assert store.list_calls == 1

    store.reset()
    cold = DeltaLakeClient(_NoSpark(), store)
    cold.new_tx()
    cold.abort_tx()
    # pointer read + checkpoint read + tail records; the log listing is
    # anchored past the checkpoint so only the tail keys come back
    assert store.reads.get("_last_checkpoint", 0) == 1
    assert store.reads.get("_checkpoint_", 0) == 1
    assert store.reads.get("_log_", 0) == tail
    assert store.listed_keys.get("_log_", 0) == tail
    # the pointer replaces the full _checkpoint_ prefix walk: the only
    # checkpoint LIST is the is-there-anything-newer probe (empty)
    assert store.listed_keys.get("_checkpoint_", 0) == 0


@pytest.mark.slow
def test_stream_trigger_metadata_cost_is_position_tail_at_depth(tmp_path):
    """A stream positioned near the head of the same 1 000-commit log
    pays O(new commits) listed keys + reads per latestOffset/partitions
    round, not O(total commits)."""
    from delta_lake_experiment_spark.streaming.engine_source import (
        EngineTableStreamReader,
    )

    store = CountingStore(str(tmp_path / "store"))
    _seed_commits(str(tmp_path / "store"), 1000, store=store)
    latest = replay_log(store).version
    reader = EngineTableStreamReader(
        str(tmp_path / "store"),
        {"table": "t", "startingversion": str(latest - 3)},
        store=store,
    )
    store.reset()
    off = reader.latestOffset()
    assert off == {"version": latest}
    parts = reader.partitions({"version": latest - 3}, off)
    assert len(parts) == 3
    reader.commit(off)
    # listings anchored at the stream position / pointer checkpoint:
    # a 10^6-commit log would cost the same handful of keys
    assert store.listed_keys.get("_log_", 0) <= 2 * 32
    assert store.reads.get("_log_", 0) <= 2 * 32
    assert store.list_calls <= 8

    # steady state: an idle trigger (no new commits) lists ZERO log keys
    store.reset()
    off2 = reader.latestOffset()
    assert off2 == {"version": latest}
    assert store.listed_keys.get("_log_", 0) == 0


def test_vacuum_log_reclaims_below_horizon_and_time_travel_raises(tmp_path):
    c = _seed_commits(str(tmp_path / "store"), 69)  # 70 commits, ckpts 32/64
    store = LocalObjectStorage(str(tmp_path / "store"))
    assert newest_checkpoint_version(store) == 64

    # a retention window spares everything younger (all records are
    # seconds old): nothing deleted
    assert c.vacuum_log(min_age_seconds=3600) == 0

    report = c.vacuum_log(min_age_seconds=0, dry_run=True)
    assert report["count"] == 64  # records 1..63 + checkpoint 32
    deleted = c.vacuum_log(min_age_seconds=0)
    assert deleted == 64
    logs = store.list_prefix_ordered(LOG_PREFIX)
    assert int(logs[0][len(LOG_PREFIX):]) == 64
    assert store.list_prefix_ordered(CHECKPOINT_PREFIX) == [
        "_checkpoint_" + "0" * 18 + "64"
    ]

    # current state unaffected: replay anchors on the retained
    # checkpoint (v71 = the truncatedHistory protocol stamp the first
    # real truncation commits — see tests/test_protocol.py)
    snap = replay_log(store)
    assert snap.version == 71
    assert "truncatedHistory" in snap.protocol["rf"]
    assert sum(o.num_rows for o in snap.live_objects("t")) == 69

    # time travel below the horizon fails LOUDLY with the remedy
    with pytest.raises(HistoryTruncatedError, match="vacuum_log"):
        replay_log(store, as_of=40)
    # ... at or above it stays exact
    assert replay_log(store, as_of=64).version == 64
    assert replay_log(store, as_of=67).version == 67

    # idempotent: a second pass converges to a no-op
    assert c.vacuum_log(min_age_seconds=0) == 0


def test_truncation_error_carries_the_reconstructable_floor(tmp_path):
    """e.floor is the version a caller can RETRY at (the earliest
    retained checkpoint anchoring the surviving records), not the base
    checkpoint the failing replay anchored on (VERDICT r11: a deep
    time travel anchors at v0, but the floor is the horizon)."""
    c = _seed_commits(str(tmp_path / "store"), 20, checkpoint_interval=16)
    store = LocalObjectStorage(str(tmp_path / "store"))  # ckpt 16, v1..21
    c.vacuum_log(min_age_seconds=0)  # records 1..15 reclaimed
    with pytest.raises(HistoryTruncatedError) as ei:
        replay_log(store, as_of=5)
    assert ei.value.floor == 16
    assert ei.value.base == 0  # the deep replay anchored below every ckpt
    assert "v16" in str(ei.value)  # remedy names the retry version
    # the floor is directly actionable
    assert replay_log(store, as_of=ei.value.floor).version == 16


def test_persistently_unreadable_checkpoint_raises_the_store_error(tmp_path):
    """A corrupt newest checkpoint must surface as the underlying
    parse/store error on a current-state replay (ADVICE r11) — not a
    silent full-log fallback, and never a misleading
    HistoryTruncatedError on a vacuumed store. Only the supersession
    RACE (re-resolve moves the target) retries."""
    from delta_lake_experiment_spark.plans.snapshot import checkpoint_name

    _seed_commits(str(tmp_path / "store"), 40, checkpoint_interval=16)
    store = LocalObjectStorage(str(tmp_path / "store"))
    newest = newest_checkpoint_version(store)
    store.delete(checkpoint_name(newest))
    store.put(checkpoint_name(newest), b"{not json")
    with pytest.raises(Exception) as ei:
        replay_log(store)
    assert not isinstance(ei.value, HistoryTruncatedError)

    # the supersession race still recovers: the first read fails AND a
    # concurrent writer publishes a NEWER readable checkpoint — the
    # re-resolve moves the target and the retry succeeds
    good = replay_log(store, as_of=newest - 1)

    class _RaceStore:
        def __init__(self, inner):
            self._inner = inner
            self.failed_once = False

        def __getattr__(self, name):
            return getattr(self._inner, name)

        def read(self, key):
            if key == checkpoint_name(newest) and not self.failed_once:
                self.failed_once = True
                # "concurrent" writer publishes a newer good checkpoint
                payload = good.to_json()
                self._inner.put(checkpoint_name(newest + 1), payload)
                raise IOError("transient read failure (race window)")
            return self._inner.read(key)

    # point the pointer at the corrupt one so resolution targets it
    from delta_lake_experiment_spark.plans.snapshot import write_last_checkpoint as _wlc

    _wlc(store, newest)
    race = _RaceStore(store)
    snap = replay_log(race)
    assert race.failed_once
    assert snap.version >= newest  # tail above the new anchor folded in


def test_retention_window_stays_reconstructable(tmp_path):
    """The retention window's promise is RECONSTRUCTABILITY, not mere
    record survival: deletion is checkpoint-granular, so every version
    whose commit is younger than the window keeps its anchor checkpoint
    AND the records between (review catch, r11 pass 2: per-record
    sparing kept young records while deleting the checkpoint their
    replay needed)."""
    import time as _time

    day = 86400.0
    now = _time.time()
    root = str(tmp_path / "store")
    c = DeltaLakeClient(_NoSpark(), root, checkpoint_interval=16)
    clock = {"t": now - 60 * day}
    c._clock = lambda: clock["t"]
    c.new_tx()
    c.create_table("t", "k BIGINT, v BIGINT")
    c.commit_tx()
    for i in range(49):  # versions 2..50, one per simulated day
        clock["t"] = now - (60 - i) * day
        c.new_tx()
        c.write_row("t", [i, i])
        c.commit_tx()
    store = LocalObjectStorage(root)
    # window: 25 simulated days => oldest-young commit ~ v38; the cut
    # must land on the newest checkpoint at or below it (v32), sparing
    # v32..v50 wholesale
    deleted = c.vacuum_log(min_age_seconds=25 * day)
    assert deleted > 0
    logs = store.list_prefix_ordered(LOG_PREFIX)
    first = int(logs[0][len(LOG_PREFIX):])
    assert first == 32  # checkpoint-granular cut, not per-record holes
    for v in (32, 38, 45, 50):
        assert replay_log(store, as_of=v).version == v
    with pytest.raises(HistoryTruncatedError):
        replay_log(store, as_of=20)


def test_cdf_from_state_below_horizon_names_the_remedy(tmp_path, spark):
    """A CDF stream admitted at horizon-1 whose first commit REMOVES
    files needs the from-state AT the horizon-1 version — reclaimed.
    The planner must raise the named startingVersion remedy, not leak
    a raw HistoryTruncatedError (review catch, r11 pass 2)."""
    from delta_lake_experiment_spark.streaming.engine_source import (
        EngineTableStreamReader,
    )

    root = str(tmp_path / "store")
    c = DeltaLakeClient(spark, root, dataobject_size=4, checkpoint_interval=8)
    c.new_tx()
    c.create_table("t", "k BIGINT, v BIGINT")
    c.commit_tx()
    for i in range(6):  # versions 2..7
        c.new_tx()
        c.write_row("t", [i, i])
        c.commit_tx()
    c.new_tx()
    c.delete_rows("t", "k", 0, 2)  # version 8 = checkpoint, has removes
    c.commit_tx()
    c.vacuum_log(min_age_seconds=0)  # records 1..7 reclaimed
    store = LocalObjectStorage(root)
    reader = EngineTableStreamReader(
        root,
        {"table": "t", "readchangefeed": "true", "startingversion": "7"},
        store=store,
    )
    with pytest.raises(ValueError, match="startingVersion"):
        reader.partitions({"version": 7}, {"version": 8})


def test_vacuum_log_sql_requires_whitespace(spark, tmp_path):
    """'VACUUM LOGRETAIN ...' must not parse as the log form (and not
    as anything else either)."""
    from delta_lake_experiment_spark.plans.dml import (
        UnsupportedSqlError,
        parse_dml,
    )

    with pytest.raises(UnsupportedSqlError):
        parse_dml("VACUUM LOGRETAIN 1 HOURS")


def test_occ_version_counter_never_reuses_truncated_ids(tmp_path):
    """The retained checkpoint pins the high-water mark: commits after
    truncation continue at latest+1 and the put-if-absent gate still
    detects collisions (no truncated version id is ever reissued)."""
    c = _seed_commits(str(tmp_path / "store"), 40)  # 41 commits, ckpt 32
    c.vacuum_log(min_age_seconds=0)
    c.new_tx()
    c.write_row("t", [999, 999])
    c.commit_tx()
    store = LocalObjectStorage(str(tmp_path / "store"))
    # 42 = post-vacuum write + the truncatedHistory protocol stamp
    assert replay_log(store).version == 43
    # collision at the post-truncation head still conflicts
    a = DeltaLakeClient(_NoSpark(), str(tmp_path / "store"), checkpoint_interval=0)
    b = DeltaLakeClient(_NoSpark(), str(tmp_path / "store"), checkpoint_interval=0)
    a.new_tx()
    b.new_tx()
    a.write_row("t", [1, 1])
    b.write_row("t", [1, 2])
    a.commit_tx()
    b.commit_tx()  # append-append admission retargets to 45
    assert replay_log(store).version == 45


def test_stream_resume_across_truncation(tmp_path):
    """A stream positioned AT/ABOVE the horizon resumes cleanly; one
    positioned BELOW gets a named error citing vacuum_log + the remedy
    instead of silently skipping the reclaimed commits."""
    from delta_lake_experiment_spark.streaming.engine_source import (
        EngineTableStreamReader,
    )

    _seed_commits(str(tmp_path / "store"), 40)  # 41 commits, ckpt 32
    store = LocalObjectStorage(str(tmp_path / "store"))
    c = DeltaLakeClient(_NoSpark(), str(tmp_path / "store"))
    c.vacuum_log(min_age_seconds=0)  # records 1..31 reclaimed

    ok = EngineTableStreamReader(
        str(tmp_path / "store"), {"table": "t", "startingversion": "35"}, store=store
    )
    parts = ok.partitions({"version": 35}, {"version": 41})
    assert len(parts) == 6  # commits 36..41, one add each

    below = EngineTableStreamReader(
        str(tmp_path / "store"), {"table": "t", "startingversion": "33"}, store=store
    )
    with pytest.raises(ValueError, match="vacuum_log"):
        below.partitions({"version": 10}, {"version": 41})


def test_last_checkpoint_pointer_is_advisory(tmp_path):
    """A stale (or regressed) pointer only widens the listing — the
    anchored probe finds newer checkpoints; a pointer naming a MISSING
    checkpoint is ignored entirely (it must never anchor vacuum_log)."""
    _seed_commits(str(tmp_path / "store"), 69)  # ckpts 32, 64
    store = LocalObjectStorage(str(tmp_path / "store"))
    write_last_checkpoint(store, 32)  # stale / regressed
    assert newest_checkpoint_version(store) == 64
    assert replay_log(store).version == 70

    store.delete(LAST_CHECKPOINT)
    assert newest_checkpoint_version(store) == 64  # full-listing fallback

    write_last_checkpoint(store, 9999)  # corrupt: no such checkpoint
    assert newest_checkpoint_version(store) == 64


def test_checkpoint_parquet_sidecar_roundtrip_and_retention(tmp_path, monkeypatch):
    """Above CHECKPOINT_SIDECAR_MIN_ADDS the live-file lists spill to a
    PARQUET sidecar (Delta's multi-part checkpoint shape — the main
    record stays footer-sized at any file count): replay through the
    sidecar reconstructs the identical snapshot (names, stats, sizes,
    bucket ids, rw tags), vacuum_log retires sidecars with their
    checkpoints, and a checkpoint-race loser reclaims its own parts."""
    import shutil

    import delta_lake_experiment_spark.plans.snapshot as snapmod
    from delta_lake_experiment_spark.client import _Tx
    from delta_lake_experiment_spark.plans.snapshot import (
        CHECKPOINT_PART_PREFIX,
        checkpoint_name,
    )

    monkeypatch.setattr(snapmod, "CHECKPOINT_SIDECAR_MIN_ADDS", 5)
    monkeypatch.setattr(snapmod, "CHECKPOINT_SIDECAR_ROWS_PER_PART", 12)
    root = str(tmp_path / "store")
    c = _seed_commits(root, 40, checkpoint_interval=16)  # ckpts 16, 32
    store = LocalObjectStorage(root)
    parts = store.list_prefix_ordered(CHECKPOINT_PART_PREFIX)
    assert parts, "sidecar spill did not trigger"
    # the v32 checkpoint (31 adds, 12-row parts) is genuinely MULTI-part
    v32_parts = [p for p in parts if p.startswith(f"{CHECKPOINT_PART_PREFIX}{32:020d}_")]
    assert len(v32_parts) >= 3

    # replay THROUGH the sidecar == a from-scratch fold of the raw log
    snap = replay_log(store)
    clone = str(tmp_path / "clone")
    shutil.copytree(root, clone)
    cstore = LocalObjectStorage(clone)
    for n in (
        cstore.list_prefix_ordered("_checkpoint_")
        + cstore.list_prefix_ordered(CHECKPOINT_PART_PREFIX)
        + ["_last_checkpoint"]
    ):
        cstore.delete(n)
    raw = replay_log(cstore)
    assert snap.version == raw.version == 41
    a = {o.name: (o.tx_id, o.num_rows, o.size, o.stats, o.bucket_id, o.rewrite)
         for o in snap.live_objects("t")}
    b = {o.name: (o.tx_id, o.num_rows, o.size, o.stats, o.bucket_id, o.rewrite)
         for o in raw.live_objects("t")}
    assert a == b and len(a) == 40
    assert snap.last_ts == raw.last_ts

    # race loser: the checkpoint object already exists -> the loser's
    # freshly spilled parts are reclaimed immediately
    n_parts0 = len(store.list_prefix_ordered(CHECKPOINT_PART_PREFIX))
    loser = DeltaLakeClient(_NoSpark(), root, checkpoint_interval=41)
    fresh = replay_log(store)
    store.put(checkpoint_name(fresh.version), fresh.to_json())  # winner
    loser._maybe_checkpoint(_Tx(id=41, snapshot=fresh))
    assert len(store.list_prefix_ordered(CHECKPOINT_PART_PREFIX)) == n_parts0

    # retention retires sidecars with their checkpoints
    c.vacuum_log(min_age_seconds=0)
    survivors = store.list_prefix_ordered(CHECKPOINT_PART_PREFIX)
    horizon = 41  # newest checkpoint (the winner's plain-JSON one)
    assert all(
        int(n[len(CHECKPOINT_PART_PREFIX):].split("_", 1)[0]) >= horizon
        for n in survivors
    )
    # 42 = 41 commits + the truncatedHistory protocol stamp
    assert replay_log(store).version == 42  # still replays clean


def test_in_commit_timestamps_are_monotonic_under_clock_skew(tmp_path):
    """A writer with a regressed wall clock cannot make recorded commit
    timestamps go backwards (ts = max(now, prev + 1)), so the
    TIMESTAMP AS OF binary search still lands on the right version."""
    root = str(tmp_path / "store")
    c = DeltaLakeClient(_NoSpark(), root, checkpoint_interval=0)
    c.new_tx()
    c.create_table("t", "k BIGINT, v BIGINT")
    c.commit_tx()
    c.new_tx()
    c.write_row("t", [1, 1])
    c.commit_tx()

    skewed = DeltaLakeClient(_NoSpark(), root, checkpoint_interval=0)
    skewed._clock = lambda: 1000.0  # 1970-01-01T00:16:40 — badly regressed
    skewed.new_tx()
    skewed.write_row("t", [2, 2])
    skewed.commit_tx()

    store = LocalObjectStorage(root)
    ts = [
        int(json.loads(store.read(n))["ts"])
        for n in store.list_prefix_ordered(LOG_PREFIX)
    ]
    assert ts == sorted(ts) and len(set(ts)) == len(ts)
    assert ts[2] == ts[1] + 1  # the skewed writer landed on the floor

    # TIMESTAMP AS OF between commit 2 and 3 resolves to version 2
    assert c._version_at_timestamp(_iso(ts[1])) == 2
    assert c._version_at_timestamp(_iso(ts[2])) == 3

    # ICT floor survives vacuum_log: carried by the checkpoint
    snap = replay_log(store)
    assert snap.last_ts == ts[-1]


def _iso(micros):
    import datetime

    return datetime.datetime.fromtimestamp(
        micros / 1_000_000, tz=datetime.timezone.utc
    ).isoformat()


def test_starting_timestamp_bisect_exact_under_skew(tmp_path):
    """startingTimestamp resolution (now a binary search) agrees with
    the linear-walk semantics on an ICT-monotonic log that contains a
    skewed writer's floor-stamped commit."""
    from delta_lake_experiment_spark.streaming.engine_source import (
        EngineTableStreamReader,
    )

    root = str(tmp_path / "store")
    c = DeltaLakeClient(_NoSpark(), root, checkpoint_interval=0)
    c.new_tx()
    c.create_table("t", "k BIGINT, v BIGINT")
    c.commit_tx()
    for i in range(5):
        w = DeltaLakeClient(_NoSpark(), root, checkpoint_interval=0)
        if i == 2:
            w._clock = lambda: 5.0  # regressed writer mid-log
        w.new_tx()
        w.write_row("t", [i, i])
        w.commit_tx()
    store = LocalObjectStorage(root)
    names = store.list_prefix_ordered(LOG_PREFIX)
    ts = [int(json.loads(store.read(n))["ts"]) for n in names]

    for i, bound in enumerate(ts):
        reader = EngineTableStreamReader(
            root, {"table": "t", "startingtimestamp": _iso(bound)}, store=store
        )
        # first commit with ts >= bound is version i+1 -> start = i
        assert reader.start_version == i
    # bound past the newest commit: tail future commits only
    reader = EngineTableStreamReader(
        root, {"table": "t", "startingtimestamp": _iso(ts[-1] + 1)}, store=store
    )
    assert reader.start_version == len(names)


def test_auto_cleanup_and_sql_surface(tmp_path, spark):
    """log_retention_seconds wires vacuum_log into checkpointing
    (Delta's enableExpiredLogCleanup), and VACUUM LOG is the SQL
    spelling of the same maintenance."""
    root = str(tmp_path / "store")
    c = DeltaLakeClient(
        _NoSpark(), root, checkpoint_interval=16, log_retention_seconds=0.0
    )
    c.new_tx()
    c.create_table("t", "k BIGINT, v BIGINT")
    c.commit_tx()
    for i in range(40):
        c.new_tx()
        c.write_row("t", [i, i])
        c.commit_tx()
    store = LocalObjectStorage(root)
    logs = store.list_prefix_ordered(LOG_PREFIX)
    # checkpoints at 16 and 32: the auto-cleanup after ckpt 32 removed
    # everything below it
    assert int(logs[0][len(LOG_PREFIX):]) == 32
    # 42 = 41 seeded commits + the truncatedHistory protocol stamp the
    # first auto-cleanup truncation commits
    assert replay_log(store).version == 42

    # SQL surface: VACUUM LOG DRY RUN lists nothing (already clean up
    # to the newest checkpoint), and the statement parses + executes
    s = DeltaLakeClient(spark, root)
    report = s.execute("VACUUM LOG RETAIN 0 HOURS DRY RUN")
    assert report.count() == 0
    assert s.execute("VACUUM LOG RETAIN 0 HOURS") is None


def test_vacuum_keepset_survives_log_truncation(tmp_path):
    """VACUUM with a retain window reaching below the vacuum_log
    horizon must anchor its keep-set at the reconstructable floor and
    finish, never crash on HistoryTruncatedError (review catch, r11:
    the old fallback retried with the same unreachable version)."""
    c = _seed_commits(str(tmp_path / "store"), 69)  # ckpts 32, 64
    c.vacuum_log(min_age_seconds=0)  # records 1..63 + ckpt 32 gone
    # retain_versions reaches to v50 < horizon: must clamp, not crash
    deleted = c.vacuum(retain_versions=20, min_age_seconds=0)
    assert isinstance(deleted, int)
    # the retained snapshots still read: every live object survives
    store = LocalObjectStorage(str(tmp_path / "store"))
    snap = replay_log(store)
    for objs in snap.live.values():
        for name in objs:
            assert store.exists(name), f"keep-set lost live object {name}"


def test_stream_at_horizon_minus_one_starts(tmp_path):
    """A stream positioned EXACTLY one below the first retained record
    (e.g. startingTimestamp older than retained history resolves there)
    needs no pre-horizon state — it must start and deliver the retained
    tail (review catch, r11: the existence probe at `lo` used to raise)."""
    from delta_lake_experiment_spark.streaming.engine_source import (
        EngineTableStreamReader,
    )

    _seed_commits(str(tmp_path / "store"), 40)  # 41 commits, ckpt 32
    store = LocalObjectStorage(str(tmp_path / "store"))
    c = DeltaLakeClient(_NoSpark(), str(tmp_path / "store"))
    c.vacuum_log(min_age_seconds=0)  # records 1..31 reclaimed
    reader = EngineTableStreamReader(
        str(tmp_path / "store"), {"table": "t", "startingversion": "31"}, store=store
    )
    parts = reader.partitions({"version": 31}, {"version": 41})
    assert len(parts) == 10  # commits 32..41, one add each


def test_cdf_warns_on_oversized_unsplittable_commit(tmp_path):
    """A commit is one unsplittable CDF unit; when a single commit's
    change set exceeds maxBytesPerBatch, planning WARNS naming the
    cost instead of silently blowing the budget (VERDICT r10 stretch)."""
    import warnings

    from delta_lake_experiment_spark.streaming.engine_source import (
        EngineTableStreamReader,
    )

    _seed_commits(str(tmp_path / "store"), 3, checkpoint_interval=0)
    store = LocalObjectStorage(str(tmp_path / "store"))
    reader = EngineTableStreamReader(
        str(tmp_path / "store"),
        {
            "table": "t",
            "readchangefeed": "true",
            "startingversion": "1",
            "maxbytesperbatch": "1",
        },
        store=store,
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        parts = reader.partitions({"version": 1}, {"version": 2})
    assert parts
    assert any("maxBytesPerBatch" in str(w.message) for w in caught)


def test_reader_caches_stay_bounded(tmp_path):
    """_records/_snap_files evict at commit(): driver memory stays
    O(backlog) over a long-lived stream, not O(stream lifetime)."""
    from delta_lake_experiment_spark.streaming.engine_source import (
        EngineTableStreamReader,
    )

    _seed_commits(str(tmp_path / "store"), 12, checkpoint_interval=0)
    store = LocalObjectStorage(str(tmp_path / "store"))
    reader = EngineTableStreamReader(
        str(tmp_path / "store"),
        {"table": "t", "maxfilesperbatch": "4"},
        store=store,
    )
    prev = reader.initialOffset()
    for _ in range(12):
        off = reader.latestOffset()
        if off != prev:
            reader.partitions(prev, off)
            reader.commit(off)
            prev = off
        # bounded: never more than the one pinned-snapshot entry
        assert len(reader._snap_files) <= 1
        assert all(k > (reader._pos or 0) for k in reader._records)
    # snapshot finished: its file cache is fully evicted
    assert reader._snap_files == {}
    assert reader._pos == 13


def test_by_table_sidecars_hydrate_lazily(tmp_path, monkeypatch):
    """Format-3 checkpoints partition sidecar parts BY TABLE and defer
    hydration to first touch (VERDICT r11 item 5): a metadata-only tx
    reads ZERO parts, a single-table scan reads only that table's
    parts, and the hydrated state equals a from-scratch raw-log fold."""
    import shutil

    import delta_lake_experiment_spark.plans.snapshot as snapmod
    from delta_lake_experiment_spark.plans.snapshot import (
        CHECKPOINT_PART_PREFIX,
    )

    monkeypatch.setattr(snapmod, "CHECKPOINT_SIDECAR_MIN_ADDS", 4)
    monkeypatch.setattr(snapmod, "CHECKPOINT_SIDECAR_ROWS_PER_PART", 3)

    class PartCountingStore(LocalObjectStorage):
        part_reads = 0

        def read(self, name):
            if name.startswith(CHECKPOINT_PART_PREFIX):
                PartCountingStore.part_reads += 1
            return super().read(name)

    root = str(tmp_path / "store")
    store = PartCountingStore(root)
    # 3 tables x 6 single-file commits + 1 create = 19 commits; the
    # final commit checkpoints (interval 19), spilling each table's 6
    # adds into ceil(6/3) = 2 parts
    c = DeltaLakeClient(_NoSpark(), store, checkpoint_interval=19)
    c.new_tx()
    for t in ("a", "b", "c"):
        c.create_table(t, "k BIGINT, v BIGINT")
    c.commit_tx()
    for i in range(6):
        for t in ("a", "b", "c"):
            c.new_tx()
            c.write_row(t, [i, i * 10])
            c.commit_tx()
    parts = store.list_prefix_ordered(CHECKPOINT_PART_PREFIX)
    assert len(parts) == 6, parts  # 2 per table

    # metadata-only tx: ZERO part reads
    PartCountingStore.part_reads = 0
    c.new_tx()
    c.abort_tx()
    assert PartCountingStore.part_reads == 0

    # single-table touch: only that table's 2 parts
    snap = replay_log(store)
    assert PartCountingStore.part_reads == 0
    objs = snap.live_objects("b")
    assert len(objs) == 6
    assert PartCountingStore.part_reads == 2
    # re-touch: cached, no extra reads; other tables still unread
    snap.live_objects("b")
    assert PartCountingStore.part_reads == 2

    # hydrated state == from-scratch raw-log fold, all tables
    clone = str(tmp_path / "clone")
    shutil.copytree(root, clone)
    cstore = LocalObjectStorage(clone)
    for n in (
        cstore.list_prefix_ordered("_checkpoint_")
        + cstore.list_prefix_ordered(CHECKPOINT_PART_PREFIX)
        + ["_last_checkpoint"]
    ):
        cstore.delete(n)
    raw = replay_log(cstore)
    assert snap.version == raw.version == 19
    for t in ("a", "b", "c"):
        got = {
            o.name: (o.tx_id, o.num_rows, o.size, o.stats, o.rewrite)
            for o in snap.live_objects(t)
        }
        want = {
            o.name: (o.tx_id, o.num_rows, o.size, o.stats, o.rewrite)
            for o in raw.live_objects(t)
        }
        assert got == want and len(got) == 6

    # writes against a lazy table hydrate-before-mutate: a COW-style
    # remove of an unhydrated table must not resurrect the file
    c.new_tx()
    c.write_row("a", [99, 990])
    c.commit_tx()
    assert len(replay_log(store).live_objects("a")) == 7


def test_checkpoint_sidecar_reuse_for_untouched_tables(tmp_path, monkeypatch):
    """Delta-v2-style sidecar SHARING: a table untouched since the base
    checkpoint is referenced VERBATIM by the next checkpoint — zero
    part reads and zero part writes for it (checkpoint cost is
    O(changed tables), not O(lake)) — and retention spares reused
    below-horizon parts while reclaiming unreferenced ones."""
    import json as _json

    import delta_lake_experiment_spark.plans.snapshot as snapmod
    from delta_lake_experiment_spark.plans.snapshot import (
        CHECKPOINT_PART_PREFIX,
        checkpoint_name,
        newest_checkpoint_version,
    )

    monkeypatch.setattr(snapmod, "CHECKPOINT_SIDECAR_MIN_ADDS", 4)
    monkeypatch.setattr(snapmod, "CHECKPOINT_SIDECAR_ROWS_PER_PART", 3)

    class MeterStore(LocalObjectStorage):
        part_reads = 0
        part_writes = 0

        def read(self, name):
            if name.startswith(CHECKPOINT_PART_PREFIX):
                MeterStore.part_reads += 1
            return super().read(name)

        def put_if_absent(self, name, data):
            if name.startswith(CHECKPOINT_PART_PREFIX):
                MeterStore.part_writes += 1
            return super().put_if_absent(name, data)

    root = str(tmp_path / "store")
    store = MeterStore(root)
    c = DeltaLakeClient(_NoSpark(), store, checkpoint_interval=7)
    c.new_tx()
    c.create_table("big", "k BIGINT, v BIGINT")
    c.create_table("hot", "k BIGINT, v BIGINT")
    c.commit_tx()
    for i in range(6):  # v2..v7; checkpoint at 7 spills big (6 adds)
        c.new_tx()
        c.write_row("big", [i, i])
        c.commit_tx()
    ckpt1 = newest_checkpoint_version(store)
    assert ckpt1 == 7
    ref1 = _json.loads(store.read(checkpoint_name(ckpt1)))["live_ref"]
    assert set(ref1) == {"big"} and len(ref1["big"]) == 2

    # 7 commits touching ONLY the hot table -> checkpoint at 14
    MeterStore.part_reads = MeterStore.part_writes = 0
    for i in range(7):
        c.new_tx()
        c.write_row("hot", [i, i])
        c.commit_tx()
    ckpt2 = newest_checkpoint_version(store)
    assert ckpt2 == 14
    ref2 = _json.loads(store.read(checkpoint_name(ckpt2)))["live_ref"]
    # big's parts reused VERBATIM; hot (7 adds) spilled fresh
    assert ref2["big"] == ref1["big"]
    assert set(ref2) == {"big", "hot"}
    assert MeterStore.part_reads == 0  # reuse never read big's parts
    assert MeterStore.part_writes == 3  # only hot's ceil(7/3) parts

    # retention: big's parts carry the v7 prefix (below the v14
    # horizon) but are REFERENCED by the retained v14 checkpoint ->
    # spared; the v7 checkpoint itself is reclaimed
    deleted = c.vacuum_log(min_age_seconds=0)
    assert deleted > 0
    names = store.list_prefix_ordered(CHECKPOINT_PART_PREFIX)
    for p in ref1["big"]:
        assert p in names
    assert not store.exists(checkpoint_name(7))

    # replay through the reused parts serves the full state
    snap = replay_log(store)
    assert len(snap.live_objects("big")) == 6
    assert len(snap.live_objects("hot")) == 7

    # once big CHANGES, the next checkpoint writes fresh parts and the
    # old ones become sweepable after they fall below the horizon
    for i in range(7):  # v16..v22 (v15 = truncatedHistory stamp)
        c.new_tx()
        c.write_row("big", [100 + i, i])
        c.commit_tx()
    ckpt3 = newest_checkpoint_version(store)
    ref3 = _json.loads(store.read(checkpoint_name(ckpt3)))["live_ref"]
    assert set(ref3["big"]).isdisjoint(ref1["big"])
    c.vacuum_log(min_age_seconds=0)
    survivors = set(store.list_prefix_ordered(CHECKPOINT_PART_PREFIX))
    assert survivors.isdisjoint(ref1["big"])  # unreferenced: reclaimed
    for ps in ref3.values():  # the retained checkpoint's refs survive
        assert set(ps) <= survivors
    snap = replay_log(store)
    assert len(snap.live_objects("big")) == 13
    assert len(snap.live_objects("hot")) == 7


def test_vacuum_part_sweep_skips_on_future_format_checkpoint(
    tmp_path, monkeypatch
):
    """A retained FUTURE-format checkpoint may keep its part references
    in a shape this build cannot parse: the sweep must skip
    conservatively (sparing every below-horizon part) instead of
    treating the unknown payload as reference-free and deleting parts
    that checkpoint still needs (r12 review finding)."""
    import json as _json

    import delta_lake_experiment_spark.plans.snapshot as snapmod
    from delta_lake_experiment_spark.plans.snapshot import (
        CHECKPOINT_PART_PREFIX,
        checkpoint_name,
        newest_checkpoint_version,
    )

    monkeypatch.setattr(snapmod, "CHECKPOINT_SIDECAR_MIN_ADDS", 4)
    root = str(tmp_path / "store")
    store = LocalObjectStorage(root)
    c = DeltaLakeClient(_NoSpark(), store, checkpoint_interval=7)
    c.new_tx()
    c.create_table("big", "k BIGINT, v BIGINT")
    c.create_table("hot", "k BIGINT, v BIGINT")
    c.commit_tx()
    for i in range(6):
        c.new_tx()
        c.write_row("big", [i, i])
        c.commit_tx()
    for i in range(7):
        c.new_tx()
        c.write_row("hot", [i, i])
        c.commit_tx()
    c.vacuum_log(min_age_seconds=0)  # big's v7 parts reused+spared
    parts_before = store.list_prefix_ordered(CHECKPOINT_PART_PREFIX)
    assert parts_before

    # simulate a FUTURE writer superseding the newest checkpoint with a
    # format this build cannot read (references kept under a new key)
    newest = newest_checkpoint_version(store)
    d = _json.loads(store.read(checkpoint_name(newest)))
    d["fmt"] = 99
    d["live_ref_v99"] = d.pop("live_ref", {})
    store.delete(checkpoint_name(newest))
    store.put(checkpoint_name(newest), _json.dumps(d).encode())

    # part candidates below the horizon exist, but the reference set is
    # unknowable -> the sweep must spare everything
    c.vacuum_log(min_age_seconds=0)
    assert store.list_prefix_ordered(CHECKPOINT_PART_PREFIX) == parts_before


def test_lazy_part_read_failure_is_the_named_retention_error(
    tmp_path, monkeypatch
):
    """Deferred hydration runs outside replay_log's retry protection:
    when a long-lived snapshot's base parts are reclaimed before the
    first touch, the reader must get the NAMED HistoryTruncatedError
    with the retry remedy, not a raw store error (r12 review finding)."""
    import delta_lake_experiment_spark.plans.snapshot as snapmod
    from delta_lake_experiment_spark.plans.snapshot import (
        CHECKPOINT_PART_PREFIX,
    )

    monkeypatch.setattr(snapmod, "CHECKPOINT_SIDECAR_MIN_ADDS", 4)
    root = str(tmp_path / "store")
    store = LocalObjectStorage(root)
    c = DeltaLakeClient(_NoSpark(), store, checkpoint_interval=7)
    c.new_tx()
    c.create_table("big", "k BIGINT, v BIGINT")
    c.commit_tx()
    for i in range(6):
        c.new_tx()
        c.write_row("big", [i, i])
        c.commit_tx()
    snap = replay_log(store)  # lazy: big unhydrated
    for name in store.list_prefix_ordered(CHECKPOINT_PART_PREFIX):
        store.delete(name)  # simulate vacuum reclaiming superseded parts
    with pytest.raises(HistoryTruncatedError, match="new transaction"):
        snap.live_objects("big")


def test_corrupt_part_reraises_missing_part_names_truncation(
    tmp_path, monkeypatch
):
    """A sidecar part that still EXISTS but fails to read re-raises the
    underlying error (the truncation remedy could not fix it); only a
    GONE part maps to the named HistoryTruncatedError (pass-2 review:
    no masking)."""
    import delta_lake_experiment_spark.plans.snapshot as snapmod
    from delta_lake_experiment_spark.plans.snapshot import (
        CHECKPOINT_PART_PREFIX,
    )

    monkeypatch.setattr(snapmod, "CHECKPOINT_SIDECAR_MIN_ADDS", 4)
    root = str(tmp_path / "store")
    store = LocalObjectStorage(root)
    c = DeltaLakeClient(_NoSpark(), store, checkpoint_interval=7)
    c.new_tx()
    c.create_table("big", "k BIGINT, v BIGINT")
    c.commit_tx()
    for i in range(6):
        c.new_tx()
        c.write_row("big", [i, i])
        c.commit_tx()
    snap = replay_log(store)  # lazy
    part = store.list_prefix_ordered(CHECKPOINT_PART_PREFIX)[0]
    store.delete(part)
    store.put(part, b"not parquet at all")
    with pytest.raises(Exception) as ei:
        snap.live_objects("big")
    assert not isinstance(ei.value, HistoryTruncatedError)


def test_transient_checkpoint_blip_is_absorbed(tmp_path):
    """One throttled GET of the (unmoved) newest checkpoint must not
    fail a current-state replay — the target gets exactly one retry;
    persistent unreadability still re-raises (pass-2 review)."""
    _seed_commits(str(tmp_path / "store"), 40, checkpoint_interval=16)

    class BlipStore(LocalObjectStorage):
        blips = 1

        def read(self, name):
            if name.startswith(CHECKPOINT_PREFIX) and BlipStore.blips > 0:
                BlipStore.blips -= 1
                raise IOError("503 SlowDown")
            return super().read(name)

    store = BlipStore(str(tmp_path / "store"))
    snap = replay_log(store)  # absorbs the single blip
    assert snap.version == 41
    BlipStore.blips = 10**9  # persistent failure still surfaces
    with pytest.raises(IOError):
        replay_log(store)


def test_footer_size_guarantee_with_many_midsize_tables(
    tmp_path, monkeypatch
):
    """Per-table spilling alone would keep N*(threshold-1) adds inline
    across N mid-size tables: the checkpoint must spill the largest
    inline tables until the MAIN record's inline remainder is below the
    threshold (pass-2 review)."""
    import json as _json

    import delta_lake_experiment_spark.plans.snapshot as snapmod
    from delta_lake_experiment_spark.plans.snapshot import (
        checkpoint_name,
        newest_checkpoint_version,
    )

    monkeypatch.setattr(snapmod, "CHECKPOINT_SIDECAR_MIN_ADDS", 5)
    root = str(tmp_path / "store")
    store = LocalObjectStorage(root)
    c = DeltaLakeClient(_NoSpark(), store, checkpoint_interval=10)
    c.new_tx()
    for t in ("a", "b", "c"):
        c.create_table(t, "k BIGINT, v BIGINT")
    c.commit_tx()
    for i in range(3):  # 3 adds per table: each below the threshold
        for t in ("a", "b", "c"):
            c.new_tx()
            c.write_row(t, [i, i])
            c.commit_tx()
    d = _json.loads(store.read(checkpoint_name(newest_checkpoint_version(store))))
    inline_adds = sum(len(v) for v in d.get("live", {}).values())
    assert inline_adds < 5, d.get("live", {}).keys()
    assert len(d["live_ref"]) == 2  # two largest spilled, one inline
    snap = replay_log(store)
    for t in ("a", "b", "c"):
        assert len(snap.live_objects(t)) == 3


def test_stalled_checkpointer_part_reuse_interleave(tmp_path, monkeypatch):
    """Stage the VERDICT r12 'What's wrong #2' interleave exactly: a
    checkpointer computes its payload (reusing the base checkpoint's
    parts for an untouched table), STALLS before publishing; meanwhile
    the table churns, a newer checkpoint publishes, and vacuum_log
    sweeps the base checkpoint + the parts the stalled payload
    references. The stalled publish then lands. Documented degradation
    bound, asserted here:

    - current-state reads are UNAFFECTED (they anchor on the newest
      checkpoint, above the stalled one);
    - a time travel that anchors on the stalled checkpoint parses its
      scalars but raises the NAMED HistoryTruncatedError from the lazy
      part-read path on first touch of the reused table — loud, never
      a silent partial fold."""
    import json as _json

    import delta_lake_experiment_spark.plans.snapshot as snapmod
    from delta_lake_experiment_spark.plans.snapshot import (
        CHECKPOINT_PART_PREFIX,
        checkpoint_name,
        newest_checkpoint_version,
    )

    monkeypatch.setattr(snapmod, "CHECKPOINT_SIDECAR_MIN_ADDS", 4)
    monkeypatch.setattr(snapmod, "CHECKPOINT_SIDECAR_ROWS_PER_PART", 3)
    root = str(tmp_path / "store")
    store = LocalObjectStorage(root)
    c = DeltaLakeClient(_NoSpark(), store, checkpoint_interval=7)
    c.new_tx()
    c.create_table("big", "k BIGINT, v BIGINT")
    c.create_table("filler", "k BIGINT")
    c.commit_tx()
    for i in range(6):
        c.new_tx()
        c.write_row("big", [i, i * 10])
        c.commit_tx()
    # v7 checkpointed: big spilled into parts (the base checkpoint)
    base_v = newest_checkpoint_version(store)
    assert base_v == 7
    base_parts = set(
        _json.loads(store.read(checkpoint_name(base_v)))["live_ref"]["big"]
    )
    assert base_parts

    # a few more filler commits, then the CHECKPOINTER COMPUTES its
    # payload at v9 — big untouched, so it references the base parts
    # verbatim and writes no parts of its own — and STALLS pre-publish
    slow = DeltaLakeClient(_NoSpark(), store, checkpoint_interval=0)
    for _ in range(2):
        slow.new_tx()
        slow.write_row("filler", [1])
        slow.commit_tx()
    stalled_snap = replay_log(store)
    stalled_v = stalled_snap.version  # 9
    payload, fresh = stalled_snap.to_checkpoint(store)
    assert fresh == []  # pure reuse: nothing minted
    assert set(_json.loads(payload)["live_ref"]["big"]) == base_parts

    # ... while stalled: the table CHURNS, a newer checkpoint (v14)
    # publishes with FRESH parts for big, and vacuum_log reclaims the
    # base checkpoint and its (now unreferenced) parts
    for i in range(5):
        c.new_tx()
        c.write_row("big", [100 + i, i])
        c.commit_tx()
    newer_v = newest_checkpoint_version(store)
    assert newer_v == 14
    assert c.vacuum_log(min_age_seconds=0) > 0
    assert all(store.exists(p) is False for p in base_parts)

    # the stalled publish lands (its name was never taken)
    store.put_if_absent(checkpoint_name(stalled_v), payload)

    # (a) current-state replay: unaffected, anchored ABOVE the stall
    # (v15 = 14 data commits + vacuum_log's truncatedHistory stamp)
    snap = replay_log(store)
    assert snap.version == 15
    assert len(snap.live_objects("big")) == 11  # loud proof of no loss
    assert len(snap.live_objects("filler")) == 2

    # (b) a time travel anchoring on the stalled checkpoint parses its
    # scalars, then raises the NAMED retention error on first touch of
    # the reused table — never a silent partial fold
    pinned = replay_log(store, as_of=stalled_v)
    assert pinned.version == stalled_v
    assert "big" in pinned.tables
    with pytest.raises(HistoryTruncatedError, match="vacuum_log"):
        pinned.live_objects("big")
    # untouched small tables of the pinned snapshot still read (the
    # failure is scoped to the swept parts, not the whole snapshot)
    assert len(pinned.live_objects("filler")) == 2


def test_metadata_scale_checkpoint_cost_is_o_changed_tables(
    tmp_path, monkeypatch
):
    """Metadata-scale regression gate at realistic shape (VERDICT r12
    item 6): ~10^5 live files across 10^3 tables, asserted by COUNTERS
    (the store is the meter, so the claims pin exact cost shapes):

    - the INCREMENTAL checkpoint writes parts for O(changed tables):
      touching 1 of 1000 tables rewrites 1 table's parts and reuses
      999 verbatim (zero part reads for them);
    - ``new_tx`` on the checkpointed lake is O(tail): one checkpoint
      read, a tail-anchored log listing, ZERO sidecar part reads;
    - a single-table touch hydrates exactly that table's parts.

    The log is synthesized directly (hand-written records, metadata
    only — no parquet data objects needed to measure metadata cost),
    so the test stays in bounded seconds while exercising the real
    replay/checkpoint/reuse code paths at fleet shape."""
    import json as _json
    import time as _time

    import delta_lake_experiment_spark.plans.snapshot as snapmod
    from delta_lake_experiment_spark.plans.snapshot import (
        CHECKPOINT_PART_PREFIX,
        checkpoint_name,
        newest_checkpoint_version,
    )

    monkeypatch.setattr(snapmod, "CHECKPOINT_SIDECAR_MIN_ADDS", 64)
    N_TABLES, FILES_PER = 1000, 100  # 100k live files
    tables = [f"t{k:04d}" for k in range(N_TABLES)]

    class MeterStore(LocalObjectStorage):
        part_reads = 0
        part_writes = 0
        ckpt_reads = 0
        log_keys_listed = 0
        log_lists = 0

        def read(self, name):
            if name.startswith(CHECKPOINT_PART_PREFIX):
                MeterStore.part_reads += 1
            elif name.startswith(CHECKPOINT_PREFIX):
                MeterStore.ckpt_reads += 1
            return super().read(name)

        def put_if_absent(self, name, data):
            if name.startswith(CHECKPOINT_PART_PREFIX):
                MeterStore.part_writes += 1
            return super().put_if_absent(name, data)

        def list_prefix_ordered(self, prefix, start_after=None):
            names = super().list_prefix_ordered(prefix, start_after=start_after)
            if prefix == LOG_PREFIX:
                MeterStore.log_keys_listed += len(names)
                MeterStore.log_lists += 1
            return names

        @classmethod
        def reset(cls):
            cls.part_reads = cls.part_writes = 0
            cls.ckpt_reads = cls.log_keys_listed = cls.log_lists = 0

    start = _time.time()
    store = MeterStore(str(tmp_path / "store"))
    # v1: one create-commit declaring all 1000 tables
    ts = int(_time.time() * 1_000_000)
    store.put_if_absent(log_name(1), _json.dumps({
        "id": 1, "cv": 2, "ts": ts,
        "actions": [
            {"metadata": {"table": t, "schema_ddl": "k BIGINT, v BIGINT"}}
            for t in tables
        ],
    }).encode())
    # v2..v11: 10 bulk-commit records, each adding 10 files per table
    for v in range(2, 12):
        adds = [
            {"add": {
                "name": f"table_{t}_{v}_{i}", "table": t, "tx_id": v,
                "num_rows": 1, "size": 1, "stats": {},
            }}
            for t in tables
            for i in range(FILES_PER // 10)
        ]
        store.put_if_absent(log_name(v), _json.dumps({
            "id": v, "cv": 2, "ts": ts + v, "actions": adds,
        }).encode())

    # v12: a real client commit triggers the FULL checkpoint (1000
    # tables spill — the one genuinely O(lake) event)
    c = DeltaLakeClient(_NoSpark(), store, checkpoint_interval=12)
    c.new_tx()
    c.write_row("t0000", [0, 0])
    c.commit_tx()
    assert newest_checkpoint_version(store) == 12
    full_writes = MeterStore.part_writes
    assert full_writes >= N_TABLES  # every table spilled

    # a FRESH client's new_tx on the checkpointed lake: O(tail) — one
    # checkpoint read, ZERO part reads, a tail-anchored listing (not 12
    # records)
    MeterStore.reset()
    fresh = DeltaLakeClient(_NoSpark(), store, checkpoint_interval=12)
    fresh.new_tx()
    fresh.abort_tx()
    assert MeterStore.ckpt_reads == 1
    assert MeterStore.part_reads == 0
    assert MeterStore.log_keys_listed <= 2

    # the WARM writer that published the checkpoint keeps its snapshot:
    # its new_tx reads no checkpoint and no part, only one listing
    # anchored at its kept version (nothing newer to fold)
    MeterStore.reset()
    c.new_tx()
    c.abort_tx()
    assert MeterStore.ckpt_reads == 0
    assert MeterStore.part_reads == 0
    assert MeterStore.log_lists == 1
    assert MeterStore.log_keys_listed == 0

    # single-table touch hydrates exactly that table's parts (100 rows
    # -> 1 part)
    MeterStore.reset()
    snap = replay_log(store)
    assert len(snap.live_objects("t0500")) == FILES_PER
    assert MeterStore.part_reads == 1
    snap.live_objects("t0500")  # cached: no re-read
    assert MeterStore.part_reads == 1

    # touch ONE table, drive to the next checkpoint: the incremental
    # checkpoint writes O(changed tables) parts — 1 fresh (plus the
    # hydration read that folding its tail requires), 999 reused with
    # ZERO reads or writes
    MeterStore.reset()
    for _ in range(12):
        c.new_tx()
        c.write_row("t0500", [1, 1])
        c.commit_tx()
    assert newest_checkpoint_version(store) == 24
    # the warm writer re-anchored its kept snapshot at the checkpoint it
    # published: reaching the next one re-reads no checkpoint
    assert MeterStore.ckpt_reads == 0
    MeterStore.reset()
    # count the incremental checkpoint's own cost via a re-run: the
    # meter above also saw the 12 commits, so re-derive from the
    # checkpoint payload instead — 1 fresh part name, 999 base names
    d = _json.loads(store.read(checkpoint_name(24)))
    base = _json.loads(store.read(checkpoint_name(12)))
    fresh = {
        t: ps for t, ps in d["live_ref"].items()
        if ps != base["live_ref"].get(t)
    }
    assert list(fresh) == ["t0500"]
    reused = sum(
        1 for t, ps in d["live_ref"].items()
        if ps == base["live_ref"].get(t)
    )
    assert reused == N_TABLES - 1

    # MASS DROP at fleet shape (r13): half the lake dropped in ONE
    # commit — the record is O(dropped tables), ~100 bytes each, never
    # O(files); the next checkpoint sheds all 500 and retention
    # reclaims their parts, while the survivors' parts stay REUSED
    victims = tables[: N_TABLES // 2]
    c.new_tx()
    for t in victims:
        c.drop_table(t)
    c.commit_tx()
    drop_record = _json.loads(
        store.read(log_name(replay_log(store).version))
    )
    assert len(drop_record["actions"]) == len(victims)  # O(tables)
    while replay_log(store).version % 12 != 0:
        c.new_tx()
        c.write_row("t0500", [2, 2])
        c.commit_tx()
    v3 = newest_checkpoint_version(store)
    d3 = _json.loads(store.read(checkpoint_name(v3)))
    assert not (set(victims) & set(d3["live_ref"]))
    assert not (set(victims) & set(d3.get("live", {})))
    assert not (set(victims) & set(d3["tables"]))
    assert len(d3["live_ref"]) == N_TABLES - len(victims)
    # survivors still reused verbatim (t0500 aside, freshly spilled)
    survivors_reused = sum(
        1 for t, ps in d3["live_ref"].items()
        if ps == base["live_ref"].get(t)
    )
    assert survivors_reused >= N_TABLES - len(victims) - 1
    # UNDROP at fleet shape (r14): recovery of a 100-file victim whose
    # objects still exist costs prefix LISTs + ZERO per-object HEADs;
    # a victim whose objects are GONE (these synthesized names were
    # never stored) refuses after ONE confirming probe — never
    # O(files) HEADs on the way to the error
    exists_probes = [0]
    orig_exists = MeterStore.exists

    def counting_exists(self, name):
        exists_probes[0] += 1
        return orig_exists(self, name)

    MeterStore.exists = counting_exists
    try:
        lucky = victims[3]  # a purely synthetic victim (t0000 got a
        # real v12 write whose object already exists in the store)
        lucky_below = replay_log(store, as_of=25 - 1)
        for n in lucky_below.live_map(lucky):
            store.put_if_absent(n, b"")  # materialize its 100 objects
        c.new_tx()
        exists_probes[0] = 0
        assert c.undrop_table(lucky) == FILES_PER
        assert exists_probes[0] == 0  # pure prefix LISTs
        c.commit_tx()
        c.new_tx()
        exists_probes[0] = 0
        with pytest.raises(TableNotFoundError, match="reclaimed"):
            c.undrop_table(victims[1])  # objects never existed
        assert exists_probes[0] == 1  # ONE confirming probe, then loud
        c.abort_tx()
    finally:
        MeterStore.exists = orig_exists

    # DISCOVERY at fleet shape: one walk lists every drop; the
    # undropped victim's name is taken again, the rest stay listed
    listing = c.list_dropped_tables()
    assert len(listing) == len(victims)
    by_name = {d["table"]: d for d in listing}
    assert by_name[lucky]["recoverable"] is False  # name taken again
    assert by_name[victims[2]]["recoverable"] is True  # metadata-level

    # retention reclaims the dropped tables' (now unreferenced) parts
    victim_parts = {p for t in victims for p in base["live_ref"][t]}
    c.vacuum_log(min_age_seconds=0)
    left = set(store.list_prefix_ordered(CHECKPOINT_PART_PREFIX))
    assert not (victim_parts & left)
    # survivors still replay + hydrate exactly
    snap2 = replay_log(store)
    assert len(snap2.live_objects("t0750")) == FILES_PER

    # post-retention discovery honors the horizon: the mass-drop
    # record was swept with the rest of the pre-checkpoint history,
    # so the listing is EMPTY (DESCRIBE HISTORY's completeness
    # contract) and an undrop answers not-found instead of serving a
    # half-reclaimed recovery
    assert c.list_dropped_tables() == []

    # and the whole fleet-shaped test stays in bounded seconds
    assert _time.time() - start < 150


def test_stalled_checkpointer_catches_partial_sweep_from_tail(
    tmp_path, monkeypatch
):
    """ADVICE r14 close: the post-publish self-check probes BOTH ends
    of the sorted reused-part list, so an in-order partial sweep that
    already reclaimed the LAST part but not yet the first is caught
    too — previously the single reused[0] probe would have left the
    degraded checkpoint in place for the lazy named error."""
    import json as _json

    import delta_lake_experiment_spark.plans.snapshot as snapmod
    from delta_lake_experiment_spark.plans.snapshot import checkpoint_name

    monkeypatch.setattr(snapmod, "CHECKPOINT_SIDECAR_MIN_ADDS", 4)
    monkeypatch.setattr(snapmod, "CHECKPOINT_SIDECAR_ROWS_PER_PART", 3)
    root = str(tmp_path / "store")
    store = LocalObjectStorage(root)
    c = DeltaLakeClient(_NoSpark(), store, checkpoint_interval=7)
    c.new_tx()
    c.create_table("big", "k BIGINT, v BIGINT")
    c.create_table("filler", "k BIGINT")
    c.commit_tx()
    for i in range(6):
        c.new_tx()
        c.write_row("big", [i, i * 10])
        c.commit_tx()
    assert newest_checkpoint_version(store) == 7
    base_parts = sorted(
        _json.loads(store.read(checkpoint_name(7)))["live_ref"]["big"]
    )
    assert len(base_parts) >= 2, "need a multi-part sidecar spill"
    for _ in range(2):
        c.new_tx()
        c.write_row("filler", [1])
        c.commit_tx()  # v8, v9

    # big stays PRISTINE, so the v10 checkpoint REUSES its base parts;
    # mid-stall a partial sweep reclaims only the LAST sorted part
    slow = DeltaLakeClient(_NoSpark(), store, checkpoint_interval=10)
    orig = snapmod.Snapshot.to_checkpoint
    state = {"interleaved": False}

    def stalling(self, st):
        payload, fresh = orig(self, st)
        if not state["interleaved"] and self.version == 10:
            state["interleaved"] = True
            assert sorted(self._ckpt_reused_parts) == base_parts
            st.delete(base_parts[-1])
            assert st.exists(base_parts[0]) is True
        return payload, fresh

    monkeypatch.setattr(snapmod.Snapshot, "to_checkpoint", stalling)
    slow.new_tx()
    slow.write_row("filler", [2])
    slow.commit_tx()  # v10: publish lands, tail probe fires
    assert state["interleaved"], "the stall interleave never ran"
    # the degraded checkpoint self-invalidated
    assert store.exists(checkpoint_name(10)) is False


def test_stalled_checkpointer_self_invalidates_after_publish(
    tmp_path, monkeypatch
):
    """VERDICT r13 item 7 (the r12 verdict's floated remedy): the
    stalled publisher PROBES one reused part right after its publish
    lands — when a concurrent newer-checkpoint + vacuum_log swept the
    parts it references, it deletes its OWN checkpoint name instead of
    leaving a known-degraded anchor in the log. A time travel to the
    stalled version then raises the NAMED truncation error UP FRONT
    (no anchor) rather than parsing scalars that fail lazily on first
    table touch; current-state reads stay anchored on the real newest
    checkpoint."""
    import json as _json

    import delta_lake_experiment_spark.plans.snapshot as snapmod
    from delta_lake_experiment_spark.plans.snapshot import checkpoint_name

    monkeypatch.setattr(snapmod, "CHECKPOINT_SIDECAR_MIN_ADDS", 4)
    monkeypatch.setattr(snapmod, "CHECKPOINT_SIDECAR_ROWS_PER_PART", 3)
    root = str(tmp_path / "store")
    store = LocalObjectStorage(root)
    c = DeltaLakeClient(_NoSpark(), store, checkpoint_interval=7)
    c.new_tx()
    c.create_table("big", "k BIGINT, v BIGINT")
    c.create_table("filler", "k BIGINT")
    c.commit_tx()
    for i in range(6):
        c.new_tx()
        c.write_row("big", [i, i * 10])
        c.commit_tx()
    # v7 checkpointed: big spilled into sidecar parts (the base)
    assert newest_checkpoint_version(store) == 7
    base_parts = set(
        _json.loads(store.read(checkpoint_name(7)))["live_ref"]["big"]
    )
    assert base_parts
    for _ in range(2):
        c.new_tx()
        c.write_row("filler", [1])
        c.commit_tx()  # v8, v9

    # the slow client's NEXT commit (v10) triggers its checkpointer;
    # the wrapper stalls it between payload computation and publish,
    # and the world moves underneath: big churns, c checkpoints v14,
    # vacuum_log sweeps the base checkpoint and its parts
    slow = DeltaLakeClient(_NoSpark(), store, checkpoint_interval=10)
    orig = snapmod.Snapshot.to_checkpoint
    state = {"interleaved": False}

    def stalling(self, st):
        payload, fresh = orig(self, st)
        if not state["interleaved"] and self.version == 10:
            state["interleaved"] = True
            for i in range(5):
                c.new_tx()
                c.write_row("big", [100 + i, i])
                c.commit_tx()  # v11..v15; c checkpoints v14
            assert newest_checkpoint_version(store) == 14
            assert c.vacuum_log(min_age_seconds=0) > 0
            assert all(store.exists(p) is False for p in base_parts)
        return payload, fresh

    monkeypatch.setattr(snapmod.Snapshot, "to_checkpoint", stalling)
    slow.new_tx()
    slow.write_row("filler", [2])
    slow.commit_tx()  # v10: publish lands, probe fires, self-invalidates
    assert state["interleaved"], "the stall interleave never ran"

    # the stalled checkpoint never becomes an anchor
    assert store.exists(checkpoint_name(10)) is False
    # current-state replay: anchored on the REAL newest checkpoint
    snap = replay_log(store)
    assert len(snap.live_objects("big")) == 11
    assert len(snap.live_objects("filler")) == 3
    # time travel to the stalled version: NAMED error up front (no
    # anchor), never a parsed-then-lazily-failing snapshot
    with pytest.raises(HistoryTruncatedError):
        replay_log(store, as_of=10)
    # the advisory pointer names a real, readable anchor
    from delta_lake_experiment_spark.plans.snapshot import (
        read_last_checkpoint,
    )

    ptr = read_last_checkpoint(store)
    assert ptr is not None and store.exists(checkpoint_name(ptr)) is True


def test_log_format_has_one_owner():
    """Only plans/snapshot.py slices log/checkpoint names or imports
    LOG_PREFIX: every other module lists, reads and writes the log
    through its helpers (tests and perfbench assert on the on-store
    layout and stay exempt)."""
    import ast

    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "delta_lake_experiment_spark",
    )
    owner = os.path.join(pkg, "plans", "snapshot.py")
    slices = ("len(LOG_PREFIX)", "len(CHECKPOINT_PREFIX)", "len(CHECKPOINT_PART_PREFIX)")
    offenders = []
    for d, _, files in os.walk(pkg):
        for f in files:
            path = os.path.join(d, f)
            if not f.endswith(".py") or path == owner:
                continue
            with open(path) as fh:
                src = fh.read()
            rel = os.path.relpath(path, pkg)
            offenders += [f"{rel}: {s}" for s in slices if s in src]
            offenders += [
                f"{rel}:{node.lineno}: imports LOG_PREFIX"
                for node in ast.walk(ast.parse(src))
                if isinstance(node, ast.ImportFrom)
                and any(a.name == "LOG_PREFIX" for a in node.names)
            ]
    assert offenders == []


def test_client_current_state_has_one_path():
    """Every current-state snapshot in client.py goes through
    ``_current_snapshot`` (the kept snapshot, advanced): the only
    ``replay_log`` call without ``as_of`` is its cold/fallback path."""
    import ast

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "delta_lake_experiment_spark",
        "client.py",
    )
    with open(path) as fh:
        tree = ast.parse(fh.read())
    unpinned = {}
    for fn in ast.walk(tree):
        if not isinstance(fn, ast.FunctionDef):
            continue
        for node in ast.walk(fn):
            if (
                isinstance(node, ast.Call)
                and getattr(node.func, "id", None) == "replay_log"
                and len(node.args) < 2
                and not any(k.arg == "as_of" for k in node.keywords)
            ):
                unpinned[fn.name] = unpinned.get(fn.name, 0) + 1
    assert unpinned == {"_current_snapshot": 1}


def test_kept_snapshot_falls_back_when_vacuum_log_reclaims_its_tail(tmp_path):
    """Another client's vacuum_log reclaims log records past this
    client's kept version: the next new_tx replays and serves the
    exact current state, never HistoryTruncatedError."""
    root = str(tmp_path / "store")
    a = _seed_commits(root, 2, checkpoint_interval=4)
    a.new_tx()
    a.abort_tx()  # a keeps v3
    b = DeltaLakeClient(_NoSpark(), root, checkpoint_interval=4)
    for i in range(8):
        b.new_tx()
        b.write_row("t", [100 + i, i])
        b.commit_tx()
    b.vacuum_log(min_age_seconds=0)
    assert not b.store.exists(log_name(4))  # a's tail has a hole

    a.new_tx()
    fresh = replay_log(a.store)
    assert a.tx.snapshot == fresh
    assert a.tx.id == fresh.version + 1
    assert sum(o.num_rows for o in a.tx.snapshot.live_objects("t")) == 10


def _lazy_lake(root, monkeypatch, interval=5):
    """Tables ``big`` (4 files, spilled to a sidecar part by the v5
    checkpoint) and ``small`` (inline), committed by one client."""
    import delta_lake_experiment_spark.plans.snapshot as snapmod

    monkeypatch.setattr(snapmod, "CHECKPOINT_SIDECAR_MIN_ADDS", 4)
    c = DeltaLakeClient(_NoSpark(), root, checkpoint_interval=interval)
    c.new_tx()
    c.create_table("big", "k BIGINT, v BIGINT")
    c.create_table("small", "k BIGINT, v BIGINT")
    c.commit_tx()
    for i in range(4):
        c.new_tx()
        c.write_row("big", [i, i])
        c.commit_tx()
    assert newest_checkpoint_version(c.store) == 5
    return c


def test_kept_snapshot_falls_back_when_its_sidecar_parts_are_reclaimed(
    tmp_path, monkeypatch
):
    """The kept snapshot's lazy sidecar parts are reclaimed after
    another client rewrites that table: folding that rewrite cannot
    hydrate the table, so the next new_tx replays instead."""
    from delta_lake_experiment_spark.plans.snapshot import (
        CHECKPOINT_PART_PREFIX,
        checkpoint_part_prefix,
    )

    root = str(tmp_path / "store")
    _lazy_lake(root, monkeypatch)
    a = DeltaLakeClient(_NoSpark(), root, checkpoint_interval=5)
    b = DeltaLakeClient(_NoSpark(), root, checkpoint_interval=5)
    a.new_tx()
    a.abort_tx()  # a keeps v5, "big" unhydrated
    for i in range(4):
        b.new_tx()
        b.write_row("small", [i, i])
        b.commit_tx()
    a.new_tx()
    a.abort_tx()  # a folds v6..v9 (only "small"): keeps v9
    b.new_tx()
    b.write_row("big", [9, 9])
    b.commit_tx()  # v10: b's checkpoint spills "big" afresh
    b.vacuum_log(min_age_seconds=0)
    parts = b.store.list_prefix_ordered(CHECKPOINT_PART_PREFIX)
    assert parts and all(p.startswith(checkpoint_part_prefix(10)) for p in parts)
    assert b.store.exists(log_name(10))  # a's tail itself is dense

    a.new_tx()
    assert a.tx.snapshot == replay_log(a.store)
    assert len(a.tx.snapshot.live_objects("big")) == 5


def test_tx_views_never_reach_the_kept_snapshot(tmp_path, monkeypatch):
    """A tx works on a copy of the kept snapshot: hydrating a lazy
    table, writing and aborting, or drop_table's in-tx protocol fold
    leave the kept snapshot equal to the committed state it holds."""
    root = str(tmp_path / "store")
    c = _lazy_lake(root, monkeypatch)

    def assert_kept_is_committed_state():
        kept = c._kept
        assert kept == replay_log(c.store, as_of=kept.version)

    c.new_tx()
    assert len(c.write_manifest("big")) == 4  # hydrates the tx's "big"
    c.write_row("big", [7, 7])
    c.write_row("small", [7, 7])
    c.abort_tx()
    assert_kept_is_committed_state()

    c.new_tx()
    c.drop_table("small")  # commits the dropTable stamp as v6 first
    c.abort_tx()
    assert_kept_is_committed_state()
    assert replay_log(c.store).version == 6
    assert "small" in replay_log(c.store).tables


def test_checkpoint_from_kept_snapshot_matches_a_cold_replay(
    tmp_path, monkeypatch
):
    """Past another client's checkpoint, a writer checkpoints from a
    replay anchored at it, as a cold client would: a table nobody
    touched since then reuses that checkpoint's sidecar parts instead
    of being spilled afresh from the writer's older kept snapshot."""
    root = str(tmp_path / "store")
    _lazy_lake(root, monkeypatch)
    a = DeltaLakeClient(_NoSpark(), root, checkpoint_interval=5)
    b = DeltaLakeClient(_NoSpark(), root, checkpoint_interval=5)
    a.new_tx()
    a.abort_tx()  # a keeps v5
    for i in range(5):
        b.new_tx()
        b.write_row("big", [10 + i, i])
        b.commit_tx()  # v6..v10; b's v10 checkpoint spills "big"
    a.new_tx()
    a.abort_tx()  # a folds v6..v10: "big" hydrated in a's kept snapshot
    for i in range(5):
        a.new_tx()
        a.write_row("small", [i, i])
        a.commit_tx()  # v11..v15; a's v15 checkpoint
    from delta_lake_experiment_spark.plans.snapshot import checkpoint_name

    ckpt = lambda v: json.loads(a.store.read(checkpoint_name(v)))
    assert ckpt(15)["live_ref"]["big"] == ckpt(10)["live_ref"]["big"]



def test_commit_into_a_vacuum_log_hole_fails_loudly(tmp_path):
    """A tx left open while another client commits past two
    checkpoints and runs vacuum_log finds its version slot freed below
    the newest checkpoint, where no reader looks. The commit must not
    report success there: it raises ConcurrentCommitError, takes its
    record back, and run_tx's retry lands where readers see it."""
    root = str(tmp_path / "store")
    a = DeltaLakeClient(_NoSpark(), root, checkpoint_interval=4)
    a.new_tx()
    a.create_table("t", "k BIGINT, v BIGINT")
    a.commit_tx()  # v1
    b = DeltaLakeClient(_NoSpark(), root, checkpoint_interval=4)
    b.new_tx()
    assert b.tx.id == 2
    b.write_row("t", [100, 100])
    for i in range(8):
        a.new_tx()
        a.write_row("t", [i, i])
        a.commit_tx()  # v2..v9, checkpoints at 4 and 8
    assert a.vacuum_log(min_age_seconds=0) == 8
    assert not a.store.exists(log_name(2))

    with pytest.raises(ConcurrentCommitError):
        b.commit_tx()
    assert not b.store.exists(log_name(2))

    b.run_tx(lambda c: c.write_row("t", [100, 100]))
    fresh = DeltaLakeClient(_NoSpark(), root)
    fresh.new_tx()
    assert fresh.table_row_count("t") == 9
