"""Protocol / table-feature gating (Delta's minReader/minWriter shape).

VERDICT r11 item 1: r11 introduced on-disk formats and invariants an
older client of this engine cannot handle — a ``live_ref`` sidecar
checkpoint failed a pre-r11 reader with a raw ``KeyError('live')``, and
a replay without dense-version gap detection pointed at a vacuumed log
would silently fold only the surviving tail. These tests pin the gate:

- commits that first USE a gated feature stamp a ``protocol`` record;
- a reader stripped of a feature (simulated by masking the supported
  set) gets the NAMED ``UnsupportedTableFeatureError``, never a raw
  KeyError or a silently partial fold;
- a writer stripped of a feature can still read but not commit;
- legacy logs/checkpoints without a protocol record keep working;
- checkpoint ser/de carries the protocol and declares its format
  (``fmt``), with unknown formats raising the NAMED
  ``UnsupportedCheckpointError``.

Reference contract this extends: the unknown-action panic
(reference transactions.go:95-97) — loud failure for unparseable
records, now widened to unsupported SEMANTICS on parseable ones.
"""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from delta_lake_experiment_spark.client import DeltaLakeClient
from delta_lake_experiment_spark.errors import (
    UnsupportedCheckpointError,
    UnsupportedTableFeatureError,
)
from delta_lake_experiment_spark.plans import protocol as protomod
from delta_lake_experiment_spark.plans.snapshot import (
    CHECKPOINT_PREFIX,
    LOG_PREFIX,
    Snapshot,
    checkpoint_name,
    log_name,
    replay_log,
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


def _client(root, **kw):
    return DeltaLakeClient(_NoSpark(), root, **kw)


def test_feature_first_use_stamps_protocol(tmp_path):
    """CREATE with identity stamps the feature; a later RENAME stamps
    columnMapping; once stamped, later commits add nothing."""
    c = _client(str(tmp_path))
    c.new_tx()
    c.create_table(
        "t", "id BIGINT, v BIGINT", identity={"id": {"start": 1, "step": 1}}
    )
    c.commit_tx()
    snap = replay_log(c.store)
    assert "identityColumns" in snap.protocol["wf"]
    assert snap.protocol["rf"] == []  # identity never affects reads

    c.new_tx()
    c.rename_column("t", "v", "val")
    c.commit_tx()
    snap = replay_log(c.store)
    assert "columnMapping" in snap.protocol["rf"]
    assert "columnMapping" in snap.protocol["wf"]

    # an allocating insert (identity advance) must NOT re-stamp
    logs_before = len(c.store.list_prefix_ordered(LOG_PREFIX))
    c.new_tx()
    c.write_row("t", [None, 10])
    c.commit_tx()
    record = json.loads(c.store.read(log_name(logs_before + 1)))
    kinds = [next(iter(a)) for a in record["actions"]]
    assert "protocol" not in kinds


def test_masked_reader_gets_named_error_from_log(tmp_path, monkeypatch, spark):
    """A reader that does not implement deletionVectors fails replay
    with the NAMED error listing the missing feature — not a misread
    table (the pre-gate failure mode: it would surface deleted rows)."""
    c = DeltaLakeClient(spark, str(tmp_path))
    c.new_tx()
    c.create_table("t", "k BIGINT, v BIGINT")
    for i in range(4):
        c.write_row("t", [i, i * 10])
    c.commit_tx()
    c.new_tx()
    c.delete_rows("t", "k", 1, 2, use_dv=True)
    c.commit_tx()
    snap = replay_log(c.store)
    assert "deletionVectors" in snap.protocol["rf"]

    masked = protomod.supported_reader_features() - {"deletionVectors"}
    monkeypatch.setattr(protomod, "supported_reader_features", lambda: masked)
    with pytest.raises(UnsupportedTableFeatureError) as ei:
        replay_log(c.store)
    assert ei.value.kind == "reader"
    assert ei.value.features == ["deletionVectors"]


def test_masked_reader_gets_named_error_from_checkpoint(
    tmp_path, monkeypatch, spark
):
    """The checkpoint CARRIES the protocol: a masked reader anchoring
    on it gets the same named error (never a partial hydrate)."""
    c = DeltaLakeClient(spark, str(tmp_path), checkpoint_interval=2)
    c.new_tx()
    c.create_table("t", "k BIGINT, v BIGINT")
    c.commit_tx()
    c.new_tx()
    c.write_row("t", [1, 10])
    c.delete_rows("t", "k", 5, 6, use_dv=False)
    c.commit_tx()  # v2 -> checkpoint written
    c.new_tx()
    c.delete_rows("t", "k", 1, 1, use_dv=True)
    c.commit_tx()
    c.new_tx()
    c.write_row("t", [2, 20])
    c.commit_tx()  # v4 -> checkpoint carries the DV feature
    assert c.store.list_prefix_ordered(CHECKPOINT_PREFIX)

    masked = protomod.supported_reader_features() - {"deletionVectors"}
    monkeypatch.setattr(protomod, "supported_reader_features", lambda: masked)
    with pytest.raises(UnsupportedTableFeatureError) as ei:
        replay_log(c.store)
    assert ei.value.features == ["deletionVectors"]


def test_masked_writer_reads_but_cannot_commit(tmp_path, monkeypatch):
    """minWriterVersion semantics: a client missing a WRITER feature
    still reads the table, but commit raises the named error before
    publishing a record."""
    c = _client(str(tmp_path))
    c.new_tx()
    c.create_table(
        "t", "id BIGINT, v BIGINT", identity={"id": {"start": 1, "step": 1}}
    )
    c.commit_tx()
    c.new_tx()
    c.write_row("t", [None, 1])
    c.commit_tx()

    masked = protomod.supported_writer_features() - {"identityColumns"}
    monkeypatch.setattr(protomod, "supported_writer_features", lambda: masked)
    # reads fine
    snap = replay_log(c.store)
    assert snap.live_objects("t")
    # read-only commit fine (no writer gate on the fast path)
    c2 = _client(str(tmp_path))
    c2.new_tx()
    c2.commit_tx()
    # a data commit raises the NAMED writer error, and no record lands
    logs_before = len(c2.store.list_prefix_ordered(LOG_PREFIX))
    c2.new_tx()
    c2.write_row("t", [None, 2])
    with pytest.raises(UnsupportedTableFeatureError) as ei:
        c2.commit_tx()
    assert ei.value.kind == "writer"
    assert ei.value.features == ["identityColumns"]
    assert len(c2.store.list_prefix_ordered(LOG_PREFIX)) == logs_before


def test_legacy_log_without_protocol_keeps_working(tmp_path):
    """(b) of the verdict's done-criteria: logs written before the gate
    (no protocol record anywhere) replay, read, and accept commits."""
    c = _client(str(tmp_path))
    c.new_tx()
    c.create_table("t", "k BIGINT, v BIGINT")
    c.write_row("t", [1, 10])
    c.commit_tx()
    snap = replay_log(c.store)
    assert snap.protocol == {"rf": [], "wf": []}
    # legacy checkpoint payload (no protocol / fmt keys) loads
    legacy = Snapshot.from_checkpoint(snap.to_json(), c.store)
    assert legacy.tables == snap.tables
    c.new_tx()
    c.write_row("t", [2, 20])
    c.commit_tx()
    assert replay_log(c.store).version == 2


def test_checkpoint_serde_carries_protocol(tmp_path):
    """(c) of the done-criteria: protocol survives the checkpoint
    round-trip — a reader anchored PAST the stamping record still
    sees (and re-gates on) the features."""
    c = _client(str(tmp_path), checkpoint_interval=2)
    c.new_tx()
    c.create_table(
        "t", "id BIGINT, v BIGINT",
        identity={"id": {"start": 1, "step": 1}},
    )
    c.commit_tx()
    for i in range(3):
        c.new_tx()
        c.write_row("t", [None, i])
        c.commit_tx()
    ckpts = c.store.list_prefix_ordered(CHECKPOINT_PREFIX)
    assert ckpts
    snap = Snapshot.from_checkpoint(c.store.read(ckpts[-1]), c.store)
    assert "identityColumns" in snap.protocol["wf"]
    # and the anchored replay agrees
    assert "identityColumns" in replay_log(c.store).protocol["wf"]


def test_unknown_checkpoint_format_raises_named_error(tmp_path):
    """ADVICE r11: a future-format checkpoint fails with the NAMED
    UnsupportedCheckpointError carrying the declared format — not a
    KeyError deep in deserialization."""
    store = LocalObjectStorage(str(tmp_path))
    payload = json.dumps(
        {"version": 7, "tables": {}, "fmt": 99, "live_zstd_v9": "xyz"}
    ).encode()
    with pytest.raises(UnsupportedCheckpointError) as ei:
        Snapshot.from_checkpoint(payload, store)
    assert ei.value.format == 99


def test_vacuum_stamps_truncated_history_before_first_cut(tmp_path):
    """vacuum_log's first real truncation stamps the truncatedHistory
    READER feature so a gap-detection-less client fails the protocol
    gate instead of silently folding the surviving tail. The stamp
    lands above the horizon (survives its own vacuum) and re-vacuums
    do not re-stamp."""
    c = _client(str(tmp_path), checkpoint_interval=4)
    c.new_tx()
    c.create_table("t", "k BIGINT, v BIGINT")
    c.commit_tx()
    for i in range(12):
        c.new_tx()
        c.write_row("t", [i, i])
        c.commit_tx()
    assert replay_log(c.store).protocol["rf"] == []
    deleted = c.vacuum_log(min_age_seconds=0)
    assert deleted > 0
    snap = replay_log(c.store)
    assert "truncatedHistory" in snap.protocol["rf"]
    # idempotent: a second cut adds no second stamp
    n_protocols = sum(
        1
        for name in c.store.list_prefix_ordered(LOG_PREFIX)
        for a in json.loads(c.store.read(name))["actions"]
        if "protocol" in a
    )
    for i in range(8):
        c.new_tx()
        c.write_row("t", [100 + i, i])
        c.commit_tx()
    c.vacuum_log(min_age_seconds=0)
    n_after = sum(
        1
        for name in c.store.list_prefix_ordered(LOG_PREFIX)
        for a in json.loads(c.store.read(name))["actions"]
        if "protocol" in a
    )
    assert n_after <= n_protocols  # older stamp may be vacuumed, never re-added


def test_dry_run_vacuum_does_not_stamp(tmp_path):
    c = _client(str(tmp_path), checkpoint_interval=4)
    c.new_tx()
    c.create_table("t", "k BIGINT, v BIGINT")
    c.commit_tx()
    for i in range(8):
        c.new_tx()
        c.write_row("t", [i, i])
        c.commit_tx()
    report = c.vacuum_log(min_age_seconds=0, dry_run=True)
    assert report["count"] > 0
    assert replay_log(c.store).protocol["rf"] == []


def test_concurrent_protocol_upgrades_union_without_conflict(tmp_path):
    """Protocol folds are a monotone union: two clients stamping
    different features interleaved both land, and the folded snapshot
    carries both — no spurious OCC conflict between disjoint-table
    feature-first-use commits."""
    root = str(tmp_path)
    c1, c2 = _client(root), _client(root)
    c1.new_tx()
    c1.create_table("a", "k BIGINT, v BIGINT")
    c1.commit_tx()
    # both begin from the same snapshot, each first-uses a feature on
    # its OWN table: the version collision must reconcile (disjoint
    # tables + commutative protocol union)
    c1.new_tx()
    c2.new_tx()
    c1.create_table(
        "ids", "id BIGINT, v BIGINT", identity={"id": {"start": 1, "step": 1}}
    )
    c2.rename_column("a", "v", "val")  # first use of columnMapping
    c1.commit_tx()
    c2.commit_tx()  # collides, reconciles: disjoint tables
    snap = replay_log(c1.store)
    assert "identityColumns" in snap.protocol["wf"]
    assert "columnMapping" in snap.protocol["rf"]


def test_protocol_record_shows_in_history(tmp_path):
    c = _client(str(tmp_path))
    c.new_tx()
    c.create_table(
        "t", "id BIGINT, v BIGINT", identity={"id": {"start": 1, "step": 1}}
    )
    c.commit_tx()
    record = json.loads(c.store.read(log_name(1)))
    kinds = [next(iter(a)) for a in record["actions"]]
    assert "protocol" in kinds


def test_time_travel_below_protocol_stamp_is_ungated(tmp_path, monkeypatch):
    """as_of replay pinned BELOW the feature's first use never folds
    the protocol record — a masked reader can still time-travel the
    pre-feature history (Delta reads old snapshots the same way),
    while its current-state replay of the SAME log raises the gate."""
    c = _client(str(tmp_path))
    c.new_tx()
    c.create_table("t", "k BIGINT, v BIGINT")
    c.write_row("t", [1, 10])
    c.commit_tx()  # v1: pre-feature
    c.new_tx()
    c.rename_column("t", "v", "val")
    c.commit_tx()  # v2: stamps columnMapping (a READER feature)
    masked = protomod.supported_reader_features() - {"columnMapping"}
    monkeypatch.setattr(protomod, "supported_reader_features", lambda: masked)
    # the masked reader's CURRENT state is gated...
    with pytest.raises(UnsupportedTableFeatureError) as ei:
        replay_log(c.store)
    assert ei.value.features == ["columnMapping"]
    # ...but the pre-feature history stays readable via time travel
    snap = replay_log(c.store, as_of=1)
    assert snap.protocol == {"rf": [], "wf": []}
    assert "t" in snap.tables and snap.col_maps.get("t", {}) == {}


def test_upgrade_protocol_explicit_and_describe_detail(spark, tmp_path):
    """upgrade_protocol pre-stamps features before a fleet migration
    (monotone, idempotent, only implementable features), and DESCRIBE
    DETAIL surfaces the log-wide protocol the way Delta surfaces
    minReader/minWriterVersion."""
    from delta_lake_experiment_spark.errors import TypeMismatchError

    c = DeltaLakeClient(spark, str(tmp_path))
    c.new_tx()
    c.create_table("t", "k BIGINT, v BIGINT")
    c.write_row("t", [1, 10])
    c.commit_tx()
    got = c.upgrade_protocol(
        reader_features=["deletionVectors"],
        writer_features=["identityColumns"],
    )
    assert "deletionVectors" in got["rf"]
    assert "identityColumns" in got["wf"]
    # idempotent: no second record for the same features
    n_logs = len(c.store.list_prefix_ordered(LOG_PREFIX))
    assert c.upgrade_protocol(reader_features=["deletionVectors"]) == got
    assert len(c.store.list_prefix_ordered(LOG_PREFIX)) == n_logs
    # you cannot require what you cannot honor
    with pytest.raises(TypeMismatchError, match="timeTravelV9"):
        c.upgrade_protocol(reader_features=["timeTravelV9"])
    # DESCRIBE DETAIL shows the log-wide protocol
    row = c.describe_detail("t").collect()[0]
    assert "deletionVectors" in row["reader_features"]
    assert "identityColumns" in row["writer_features"]
