"""DeltaLakeClient — transactional table client over Spark + object storage.

Capability parity with the reference client (reference
deltalakeclient/*.go), re-architected for Spark:

=====================  ==============================================
reference              this engine
=====================  ==============================================
NewTx                  :meth:`DeltaLakeClient.new_tx` (log replay -> Snapshot)
CreateTable            :meth:`create_table` (typed StructType DDL)
WriteRow               :meth:`write_row` (buffered, auto-flush)
(bulk ingest: none)    :meth:`write_dataframe` (distributed Spark write)
Scan / Next            :meth:`scan` (DataFrame) / :meth:`scan_iter`
DeleteRows             :meth:`delete_rows` (COW at file granularity)
CommitTx               :meth:`commit_tx` (atomic put-if-absent log write)
=====================  ==============================================

Semantics preserved from the reference:

- exactly one open tx per client (deltalakeclient.go:14-19); every
  read/write requires an open tx (writes.go:10-12 etc.);
- snapshot isolation: the snapshot is fixed at ``new_tx`` (transactions.go:59-100);
- optimistic first-committer-wins via atomic create of the versioned log
  file (transactions.go:133-146); conflicts are coarse (whole-log version);
- read-only commits never write a log record and always succeed
  (transactions.go:120-131);
- scans return **all row versions**; reverse-chronological order is
  available via the ``_tx_id``/``_row_idx`` stamp columns
  (``scan_iter`` mirrors reads.go:52's newest-first contract);
- deletes are inclusive-range, copy-on-write, visible immediately to the
  deleting tx and to others only at commit (writes.go:90-162);
- unflushed rows hit by a delete become tombstones (writes.go:106-109).

Scale design (100 TB / 1000 executors):

- Data objects are Parquet, written/read by Spark executors directly —
  the driver only moves *metadata* (file names, stats, log records).
- Scans hand Spark an explicitly pruned file list (log-level min/max
  stats) and an explicit schema; Catalyst then applies predicate
  pushdown, column pruning and vectorized decode per file.
- COW delete and update locate affected files with a Spark job over
  only the *stat-pruned candidate* files (``_metadata.file_path``), then
  rewrite just those files in a second distributed job — never a
  full-table pass. Every verb plans its files through ``_plan_files``
  and publishes Spark-written rewrites through ``_publish_staged``.
- A client keeps its snapshot between transactions and folds only the
  log records committed since (O(records since its last tx)); a cold
  client's replay is O(commits since last checkpoint), not O(history):
  a checkpoint object is folded every ``checkpoint_interval`` commits.
"""

from __future__ import annotations

import bisect
import contextlib
import dataclasses
import datetime
import json
import os
import re
import time
import uuid
from dataclasses import dataclass, field
from typing import Any, Callable, Iterable, Iterator, Optional, Union

from pyspark.errors import ParseException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from delta_lake_experiment_spark.errors import (
    ConcurrentCommitError,
    ExistingTxError,
    HistoryTruncatedError,
    NoTxError,
    ObjectExistsError,
    TableDroppedError,
    TableExistsError,
    TableNotFoundError,
    TypeMismatchError,
)
from delta_lake_experiment_spark.plans.actions import (
    Action,
    AddDataObject,
    AddDeletionVector,
    ChangeMetadata,
    DropTable,
    Protocol,
    RemoveDataObject,
)
from delta_lake_experiment_spark.plans import dv as dv_fmt
from delta_lake_experiment_spark.plans.protocol import (
    FEATURE_CHECK_CONSTRAINTS,
    FEATURE_COLUMN_DEFAULTS,
    FEATURE_COLUMN_MAPPING,
    FEATURE_DELETION_VECTORS,
    FEATURE_DROP_TABLE,
    FEATURE_GENERATED_COLUMNS,
    FEATURE_IDENTITY_COLUMNS,
    FEATURE_TRUNCATED_HISTORY,
    check_writer_features,
)
from delta_lake_experiment_spark.plans.snapshot import (
    CHECKPOINT_INTERVAL,
    Snapshot,
    _stats_intersect,
    checkpoint_name,
    checkpoint_parts,
    checkpoint_refs,
    checkpoint_versions,
    encode_record,
    fold_tail,
    log_name,
    log_versions,
    newest_checkpoint_version,
    read_record,
    records_newest_first,
    replay_log,
    ts_micros,
    write_last_checkpoint,
)
from delta_lake_experiment_spark.storage.objectstore import LocalObjectStorage, ObjectStorage

TX_COL = "_tx_id"
# Names no user column may take or be renamed to: the engine's stamp
# columns, the positional-read working columns (_read_live/with_pos and
# the DV anti-join), and the Parquet _metadata pseudo-column a user
# column would shadow.
_RESERVED_COLS = frozenset(
    {"_tx_id", "_row_idx", "__obj", "__ridx", "__dv_obj", "__dv_ridx",
     "_metadata", "__upd"}
)
IDX_COL = "_row_idx"
# Default object size in rows. The reference ships 10 (debug) and intends
# 64Ki (deltalakeclient.go:9-12); we default to 64Ki and let tests dial down.
DEFAULT_DATAOBJECT_SIZE = 64 * 1024
# COW deletes whose stat-pruned candidates hold at most this many rows
# run driver-side via pyarrow (no Spark jobs); larger deletes distribute.
_DRIVER_DELETE_MAX_ROWS = 100_000


@dataclass
class _Tx:
    id: int
    snapshot: Snapshot
    # schemas created by this tx (table -> DDL), layered over snapshot
    new_tables: dict[str, str] = field(default_factory=dict)
    actions: list[Action] = field(default_factory=list)
    # table -> list of (row_idx, row-or-None); None = tombstone
    buffers: dict[str, list[tuple[int, Optional[list[Any]]]]] = field(default_factory=dict)
    next_idx: dict[str, int] = field(default_factory=dict)
    # table -> file PATHS this tx's read-write operations depended on
    # (scan + the affected-file reads of DML rewrites). Consulted by
    # commit-time conflict resolution: an interleaved commit that
    # removed/masked a file we read is a real conflict; one that only
    # touched files we never saw is admitted at a retargeted version
    # (Delta's ConflictChecker read-set shape, WriteSerializable).
    read_files: dict[str, set[str]] = field(default_factory=dict)
    # table -> list of read SCOPES: the predicate under which each
    # recorded read was PLANNED, independent of how many files the
    # stats pruning left. A scope is {"all": True} for an unbounded
    # read, or {"bounds": {phys_col: (lo, hi)}, "buckets": set[int] |
    # None} for a pruned one. This is what closes the zero-file-probe
    # hole: a MERGE whose source-key bounds prune to NO candidate
    # files still observed the ABSENCE of those keys, so a concurrent
    # fresh insert inside the bounds is a lost update (Delta checks
    # interleaved AddFiles against read PREDICATES, not read files) —
    # while inserts provably outside every scope (disjoint key bounds,
    # disjoint bucket ids) stay admissible.
    read_scopes: dict[str, list[dict]] = field(default_factory=dict)
    # (table, identity column) -> furthest value allocated BY THIS TX
    # (initialized from the snapshot's high on first allocation); the
    # commit appends an authoritative metadata record advancing the
    # table's high-water mark for every entry here
    identity_hwm: dict[tuple[str, str], int] = field(default_factory=dict)
    # table -> (actions scanned so far, last ChangeMetadata identity map
    # seen or None): _identity_spec's incremental cursor, so per-row
    # write_row lookups scan each action once per tx instead of
    # rescanning the whole list per row (quadratic on buffered ingest)
    ident_cache: dict[str, tuple[int, Optional[dict]]] = field(
        default_factory=dict
    )
    # table -> {identity column -> (high0, step, base)}: set by the
    # bulk path when a BY DEFAULT column arrived WITH supplied values
    # (the coalesce lane) — the staged-stats pass then counts the
    # cells actually MINTED (value == high0 + step*(idx - base + 1))
    # and the advance is gated/sized on them, so a supplied-only write
    # leaves the mark untouched (and stops conflicting with concurrent
    # allocators — VERDICT r11 item 2)
    ident_probe: dict[str, dict[str, tuple[int, int, int]]] = field(
        default_factory=dict
    )
    # (table, identity column) -> (minted cell count, max _row_idx among
    # minted cells or None): the staged-stats pass's answer to the probe
    ident_minted: dict[tuple[str, str], tuple[int, Optional[int]]] = field(
        default_factory=dict
    )


class DeltaLakeClient:
    """One client == one session; at most one open transaction."""

    def __init__(
        self,
        spark: SparkSession,
        store: Union[ObjectStorage, str],
        dataobject_size: int = DEFAULT_DATAOBJECT_SIZE,
        checkpoint_interval: int = CHECKPOINT_INTERVAL,
        log_retention_seconds: "Optional[float]" = None,
    ) -> None:
        self.spark = spark
        self.store = LocalObjectStorage(store) if isinstance(store, str) else store
        self.dataobject_size = dataobject_size
        self.checkpoint_interval = checkpoint_interval
        # Delta's delta.enableExpiredLogCleanup + logRetentionDuration:
        # when set, each checkpoint this client writes also reclaims
        # log records/checkpoints below the new horizon that are older
        # than the window (best-effort — cleanup failure never fails
        # the commit). None (default) = never delete log metadata.
        self.log_retention_seconds = log_retention_seconds
        self.tx: Optional[_Tx] = None
        # the snapshot of the newest version this client has seen, kept
        # between transactions and advanced by _current_snapshot (None
        # = cold: the next advance runs a full replay_log)
        self._kept: Optional[Snapshot] = None
        # table -> (catalog name, BucketScanArea) of the current
        # bucketed-scan registration (scan_bucketed replaces + cleans
        # these per table)
        self._bucket_scans: dict[str, tuple[str, Any]] = {}
        # (table, identity column) -> [(next value, last value, lineage
        # born version)] — identity blocks RESERVED by this client
        # (:meth:`reserve_identity`): the committed high-water mark
        # already covers them, so minting from a block carries NO
        # advance record and never conflicts with concurrent
        # allocators. Client-local; a crashed client's unminted block
        # remainder becomes an in-contract id gap.
        self._ident_blocks: dict[tuple[str, str], list[tuple]] = {}
        self._client_id = uuid.uuid4().hex[:8]
        # injectable wall-clock (tests plant skewed clocks to verify
        # in-commit-timestamp monotonicity); commits never trust it
        # alone — the recorded ts is max(clock, prev_ts + 1)
        self._clock = time.time
        # Engine writes need TIMESTAMP_MICROS: Spark's INT96 default
        # writes NO footer min/max stats for timestamp columns, which
        # would silently disable time-range file pruning and the bulk
        # path's max-stamp read. Set once here — a mutate-and-restore
        # around each write races concurrent writes through the same
        # session (ADVICE r2) and could leave the conf flipped mid-job.
        spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")

    # ------------------------------------------------------------------
    # transactions
    # ------------------------------------------------------------------

    def new_tx(self) -> None:
        """Begin a transaction: advance this client's kept snapshot
        with the log records committed since its last transaction (a
        cold client replays the log from the newest checkpoint), fix a
        copy of it as the tx's view (snapshot isolation), pick id =
        newest committed + 1."""
        if self.tx is not None:
            raise ExistingTxError("there is an existing transaction")
        snap, _ = self._current_snapshot()
        self.tx = _Tx(id=snap.version + 1, snapshot=snap.copy())

    def _current_snapshot(self) -> tuple[Snapshot, list[dict]]:
        """The newest committed state and the log records folded to
        reach it. The client keeps its snapshot between calls and
        folds only the records committed since (``fold_tail``: one
        anchored LIST, one read per new record), as Delta clients do.
        A cold client, or one whose kept snapshot cannot be advanced
        exactly — ``vacuum_log`` reclaimed records or base sidecar
        parts it had not seen — runs a full ``replay_log`` instead, and
        then no records are returned. Any other failure mid-fold
        discards the kept snapshot too, so it is never half folded.

        The result IS the kept snapshot: callers read it, and take
        ``.copy()`` before handing it out or touching live lists."""
        kept, self._kept = self._kept, None
        if kept is not None:
            try:
                records = fold_tail(self.store, kept)
            except HistoryTruncatedError:
                pass
            else:
                self._kept = kept
                return kept, records
        self._kept = replay_log(self.store)
        return self._kept, []

    def commit_tx(
        self,
        retry_independent: int = 3,
        txn: Optional[tuple[str, int]] = None,
    ) -> None:
        """Flush buffers and atomically publish the log record.

        Read-only transactions (no actions) skip the log write entirely
        and always succeed. A version collision with a concurrent
        committer that touched any of OUR tables raises
        :class:`ConcurrentCommitError` — first committer wins, the
        loser's data objects stay orphaned and invisible (crash-safe by
        construction: objects precede the log record).

        ``retry_independent`` (default on, 3 attempts) fixes the
        reference's known-broken concurrent-writers case
        (main_test.go:177): on a version collision, re-read the
        interleaved commits and reconcile at FILE granularity
        (Delta's ConflictChecker shape, WriteSerializable):

        - interleaved commits on *disjoint* tables always admit —
          re-target the next free version (r1 behavior);
        - same-table interleaves admit when the interleaved commit's
          removed/masked files are disjoint from this tx's read+target
          file sets AND neither side changed the table's metadata —
          append-append and disjoint COW/DV deletes both commit
          without a client-level re-run;
        - genuine overlaps (double-targeted file, removed-what-I-read,
          metadata change, a concurrently committed copy of the same
          streaming ``txn`` batch) raise — first committer wins, and
          ``run_tx``'s whole-tx retry takes over;
        - interleaved FRESH-insert adds conflict iff they could fall
          inside a read SCOPE this tx recorded on the table (the
          predicate a planned read depended on — key bounds + bucket
          ids — recorded even when stats pruning left ZERO files, so
          two MERGEs inserting the same absent key conflict while
          merges of disjoint keys both commit); REWRITE adds (tagged
          in the log: row subsets of files the same commit removes)
          and interleaves against a tx with no recorded reads reorder
          freely (WriteSerializable — the same documented caveat as
          write-skew non-detection: a phantom row added concurrently
          is read by neither side only when neither side LOOKED).

        Same-table admission re-keys row stamps: data objects of
        SHARED tables whose rows carry this tx's fresh ``_tx_id``
        stamp are rewritten driver-side to the retargeted version
        (O(own new files), only on actual contention), preserving the
        engine's per-table stamp-uniqueness invariant — newest-first
        ordering and latest-version-wins stay deterministic. Disjoint
        retargets still rewrite nothing: no other committed tx stamped
        those tables at this version. Pass ``retry_independent=0`` for
        the reference's coarse whole-log conflict behavior.
        """
        tx = self._require_tx()
        try:
            for table in list(tx.buffers):
                self._flush_buffer(table)
            self._emit_identity_advances(tx)
            if not tx.actions:
                return  # read-only fast path
            # protocol gate (Delta's minWriterVersion contract): a
            # client missing a writer feature the log requires must
            # not commit — it would corrupt an invariant the feature
            # maintains (e.g. insert into an identity table without
            # advancing the mark). Read-only txs returned above: reads
            # are gated by reader features alone, at replay.
            check_writer_features(
                tx.snapshot.protocol["wf"], f"commit of tx {tx.id}"
            )
            self._stamp_protocol(tx)
            my_tables = {
                a.table for a in tx.actions if not isinstance(a, Protocol)
            }
            attempt_id = tx.id
            # per-table CURRENT fresh-stamp value (re-keyed on same-table
            # admission so stamps stay unique per table; see docstring)
            stamps = {t: tx.id for t in my_tables}
            # ICT floor: the newest recorded commit clock this tx has
            # seen (snapshot at begin; raised from interleaved commits
            # on retry) — recorded stamps never regress
            floor_ts = tx.snapshot.last_ts
            while True:
                now_us = int(self._clock() * 1_000_000)
                record = encode_record(attempt_id, tx.actions, now_us, floor_ts, txn)
                try:
                    self.store.put_if_absent(log_name(attempt_id), record)
                    break
                except ObjectExistsError:
                    if retry_independent <= 0:
                        raise ConcurrentCommitError(
                            f"tx {attempt_id}: another transaction committed this version"
                        )
                    retry_independent -= 1
                    # fold the interleaved commits into the kept
                    # snapshot; file-granularity reconciliation raises
                    # on genuine conflicts and returns the shared
                    # tables needing a stamp re-key
                    latest, records = self._current_snapshot()
                    # an interleaved commit may have UPGRADED the
                    # protocol past this client — re-gate before
                    # retargeting (the fold above already re-gated
                    # reader features)
                    check_writer_features(
                        latest.protocol["wf"],
                        f"commit retry of tx {attempt_id}",
                    )
                    floor_ts = max(floor_ts, latest.last_ts)
                    # each record in (attempt_id - 1, latest] is read
                    # once: the fold returned those it read; the kept
                    # snapshot may already hold older ones (it moved
                    # during this tx, or a fallback replay read them)
                    folded = {int(r["id"]): r for r in records}
                    restamp: set[str] = set()
                    for v in range(attempt_id, latest.version + 1):
                        interleaved = folded.get(v) or read_record(self.store, v)
                        restamp |= self._reconcile_interleaved(
                            tx, interleaved, my_tables, txn
                        )
                    attempt_id = latest.version + 1
                    if restamp:
                        self._restamp_tables(tx, restamp, stamps, attempt_id)
            # the put can only land below the newest checkpoint when a
            # vacuum_log freed the slot while this tx was open: readers
            # anchor above it and would never see the record. One probe
            # per commit, no LIST; the checkpoint read runs only when
            # the probe says the predecessor is gone (or at version 1).
            if (
                attempt_id == 1 or self.store.exists(log_name(attempt_id - 1)) is False
            ) and newest_checkpoint_version(self.store) >= attempt_id:
                # take the record back so it cannot mask the gap from a
                # warm reader parked below it; run_tx retries fresh
                self.store.delete(log_name(attempt_id))
                raise ConcurrentCommitError(
                    f"tx {attempt_id}: the log was truncated past this"
                    " version while the transaction was open"
                )
            tx.id = attempt_id
            self._maybe_checkpoint(tx)
        finally:
            self.tx = None

    def abort_tx(self) -> None:
        """Drop the open transaction without committing."""
        self.tx = None

    def _reconcile_interleaved(
        self,
        tx: "_Tx",
        interleaved: dict[str, Any],
        my_tables: set[str],
        txn: Optional[tuple[str, int]],
    ) -> set[str]:
        """File-granularity conflict check against ONE interleaved
        commit record (Delta ConflictChecker shape, WriteSerializable).
        Raises :class:`ConcurrentCommitError` on a genuine conflict;
        otherwise returns the tables SHARED with the interleaved commit
        (those need their fresh row stamps re-keyed — see commit_tx)."""
        theirs: dict[str, list[tuple[str, dict[str, Any]]]] = {}
        for act in interleaved["actions"]:
            kind = next(iter(act))
            body = act[kind]
            if kind == "protocol":
                # protocol folds are a monotone set UNION — order-
                # independent, so an interleaved upgrade never
                # conflicts at file/metadata granularity. Whether THIS
                # client still satisfies the upgraded writer set is
                # re-gated by commit_tx's retry fold.
                continue
            t = body["table"]
            if t in my_tables:
                theirs.setdefault(t, []).append((kind, body))
        if not theirs:
            return set()
        # a concurrently committed copy of the SAME streaming batch
        # must conflict, never admit — admitting an append-append here
        # would double-apply the batch the txn marker exists to dedupe
        itxn = interleaved.get("txn")
        if (
            txn is not None
            and itxn is not None
            and itxn.get("app_id") == txn[0]
            and int(itxn.get("batch", -1)) >= int(txn[1])
        ):
            raise ConcurrentCommitError(
                f"tx {tx.id}: streaming batch {txn} was committed by a"
                " concurrent writer"
            )
        # a DROP counts as real metadata on both sides: any same-table
        # interleave against a drop is a genuine conflict (the loser's
        # retry re-reads and finds the table gone or freshly recreated)
        my_real_meta = {
            a.table
            for a in tx.actions
            if (isinstance(a, ChangeMetadata) and not a.ident_only)
            or isinstance(a, DropTable)
        }
        my_io_meta = {
            a.table
            for a in tx.actions
            if isinstance(a, ChangeMetadata) and a.ident_only
        }
        for t, acts in theirs.items():
            # io-tagged metadata = an identity high-water advance:
            # shape-irrelevant to every reader (the streaming source
            # skips it for the same reason), and authoritative records
            # replace the identity map WHOLESALE from the emitter's
            # snapshot. So metadata conflicts decompose (VERDICT r11
            # item 2):
            #  - real (DDL) metadata on either side vs ANY same-table
            #    interleave: conflict, as before;
            #  - advance vs advance (or advance vs their any-metadata):
            #    conflict — two allocators MUST collide or both replays
            #    keep only the second mark and ids mint twice (the
            #    whole allocation safety argument);
            #  - advance vs their metadata-FREE commit, and plain
            #    supplied-value appends vs their advance: admit — the
            #    wholesale replace loses nothing because the other
            #    side moved no metadata, and the files reconcile below
            #    at file granularity like any append interleave.
            their_any_meta = any(k in ("metadata", "drop") for k, _ in acts)
            their_real_meta = any(
                k == "drop" or (k == "metadata" and not b.get("io"))
                for k, b in acts
            )
            if (
                t in my_real_meta
                or their_real_meta
                or (t in my_io_meta and their_any_meta)
            ):
                raise ConcurrentCommitError(
                    f"tx {tx.id}: concurrent metadata change on {t!r}"
                )
            their_targets = {b["name"] for k, b in acts if k == "remove"}
            for k, b in acts:
                if k == "dv":
                    their_targets.update(b["objects"])
            my_targets = {
                a.name
                for a in tx.actions
                if isinstance(a, RemoveDataObject) and a.table == t
            }
            for a in tx.actions:
                if isinstance(a, AddDeletionVector) and a.table == t:
                    my_targets.update(a.objects)
            if their_targets & my_targets:
                raise ConcurrentCommitError(
                    f"tx {tx.id}: concurrent commit rewrote/masked"
                    f" {sorted(their_targets & my_targets)[:3]} on {t!r}"
                )
            if their_targets:
                their_paths = {self.store.path_of(n) for n in their_targets}
                if their_paths & tx.read_files.get(t, set()):
                    raise ConcurrentCommitError(
                        f"tx {tx.id}: concurrent commit removed files this"
                        f" transaction read on {t!r}"
                    )
            # their ADDS, by per-action provenance: REWRITE adds (tagged
            # "rw" — row subsets of files the same commit removes/masks)
            # introduce nothing a concurrent reader could not already
            # have seen, so they are exempt whenever the removes were
            # (the remove rule above fires otherwise). FRESH-insert adds
            # conflict iff they could fall inside a read SCOPE this tx
            # recorded on t: a read-modify-write (MERGE recomputing a
            # key's value, incremental ingest anti-joining existing ids)
            # admitted against a concurrent insert in its read range is
            # a silent lost update — Delta's ConcurrentAppendException
            # checks interleaved AddFiles against read PREDICATES. The
            # scope test uses the add's own [min,max] stats / bucket
            # label, so inserts provably OUTSIDE every scope (disjoint
            # key bounds, disjoint buckets) stay admissible, and BLIND
            # appends by us (no recorded reads on t) keep the free
            # reordering. Legacy records (no "cv") predate provenance:
            # their adds count as rewrites when the commit also removed
            # on t (the old commit-granular exemption), fresh otherwise.
            legacy = "cv" not in interleaved
            fresh_adds = [
                b
                for k, b in acts
                if k == "add"
                and not b.get("rw")
                and not (legacy and their_targets)
            ]
            if fresh_adds and (
                t in tx.read_scopes or tx.read_files.get(t)
            ):
                scopes = tx.read_scopes.get(t)
                hit = (
                    # files recorded with no scope: an unbounded legacy
                    # read path — conservatively conflict
                    scopes is None
                    or any(
                        _scope_admits_add(s, b)
                        for b in fresh_adds
                        for s in scopes
                    )
                )
                if hit:
                    raise ConcurrentCommitError(
                        f"tx {tx.id}: concurrent commit appended rows to"
                        f" {t!r} inside a range this transaction read"
                        " before writing (read-modify-write vs insert"
                        " is a lost update, not a reorderable append)"
                    )
        return set(theirs)

    def _restamp_tables(
        self,
        tx: "_Tx",
        tables: set[str],
        stamps: dict[str, int],
        attempt_id: int,
    ) -> None:
        """Re-key the fresh ``_tx_id`` stamps of this tx's staged data
        objects on ``tables`` to ``attempt_id`` — the price of
        admitting a same-table interleaved commit. Driver-side pyarrow
        over OUR OWN new files only (uncommitted, hence invisible:
        delete+recreate under the same name is safe on every backend);
        rows carried over from older commits (COW survivors) keep
        their original stamps, so ordering history is untouched. Stats
        and blooms never cover the stamp columns, so the actions'
        pruning metadata stays valid."""
        import io

        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        for a in tx.actions:
            if not isinstance(a, AddDataObject) or a.table not in tables:
                continue
            old = stamps[a.table]
            tbl = pq.read_table(io.BytesIO(self.store.read(a.name)))
            txcol = tbl.column(TX_COL)
            mask = pc.equal(txcol, pa.scalar(old, type=txcol.type))
            if not pc.any(mask).as_py():
                continue  # rewrite-only object: no fresh stamps
            newcol = pc.if_else(mask, pa.scalar(attempt_id, type=txcol.type), txcol)
            tbl = tbl.set_column(tbl.column_names.index(TX_COL), TX_COL, newcol)
            buf = io.BytesIO()
            pq.write_table(tbl, buf)
            self.store.delete(a.name)
            self.store.put_if_absent(a.name, buf.getvalue())
            a.tx_id = attempt_id  # the id of the tx whose rows it holds
        for t in tables:
            stamps[t] = attempt_id

    def run_tx(self, fn, retries: int = 3):
        """Run ``fn(client)`` inside a fresh transaction and commit —
        retrying the whole function on a same-table commit conflict
        with a fresh snapshot each attempt. This is the standard OCC
        retry loop callers otherwise hand-write; ``fn`` must therefore
        be safe to re-execute (each attempt re-reads and re-stages;
        objects staged by a failed attempt stay invisible and are
        VACUUM-reclaimable). Returns ``fn``'s result from the attempt
        that committed."""
        last: Optional[ConcurrentCommitError] = None
        for _ in range(retries + 1):
            self.new_tx()
            try:
                out = fn(self)
            except BaseException:
                self.abort_tx()
                raise
            try:
                self.commit_tx()
                return out
            except ConcurrentCommitError as e:
                last = e
        raise last

    # ------------------------------------------------------------------
    # DDL
    # ------------------------------------------------------------------

    def create_table(
        self,
        table: str,
        schema: Union[str, T.StructType],
        primary_keys: Optional[list[str]] = None,
        bloom_columns: Optional[list[str]] = None,
        cluster_by: Optional[list[str]] = None,
        bucket_by: Optional[tuple] = None,
        checks: Optional[dict[str, str]] = None,
        not_null: Optional[list[str]] = None,
        generated: Optional[dict[str, str]] = None,
        identity: Optional[dict[str, dict]] = None,
    ) -> None:
        """Register a table with a typed schema (DDL string or StructType).

        ``not_null`` lists columns that may never hold NULL: recorded
        in the same ChangeMetadata as CHECK constraints (a NOT NULL
        column IS the constraint ``col IS NOT NULL``, named
        ``<col>_not_null``) and enforced by the identical in-plan
        raise on EVERY write path — buffered rows, bulk ingest, MERGE,
        post-evolution rewrites. Delta records nullability in the
        schema and checks it on write; lowering onto the constraint
        lane gives the same contract with one enforcement funnel.

        Typed schemas are a deliberate upgrade over the reference's
        name-only columns (writes.go:9) — see SURVEY.md §7.1.
        ``primary_keys`` declares the upsert identity (reference roadmap
        README.md:31): :meth:`scan_current` then resolves
        latest-version-wins state without re-supplying key columns.
        ``bloom_columns`` opts listed int/string columns into per-file
        bloom filters (reference roadmap README.md:37): equality scans
        and deletes on them prune the file list even when min/max
        ranges overlap (see plans/bloom.py for the size tradeoff).
        ``cluster_by`` declares the table's physical layout: every bulk
        ingest range-partitions + sorts on these columns, so each data
        object covers a tight [min, max] slice and the log-level stats
        pruning acts as partition pruning — the Spark-first answer to a
        hive-style ``partitionBy`` directory layout, with no partition
        columns dropped from the files and no small-file explosion on
        high-cardinality keys (cost: one extra shuffle per ingest).
        ``bucket_by=(cols, n)`` declares a HASH layout instead: every
        write distributes rows into ``n`` buckets by Spark's bucket
        hash (pmod(murmur3(cols), n)) and labels each data object with
        its bucket, so :meth:`scan_bucketed` can expose the layout to
        Spark and joins/aggregations on the bucket columns plan NO
        Exchange — the one-time pre-shuffle that replaces every future
        fact-table exchange (the write_bucketed_table contract, now on
        ACID tables: the layout survives commit, replay, COW deletes
        and compaction). Mutually exclusive with ``cluster_by`` (both
        dictate the write partitioning); fixed at CREATE (relabeling
        existing objects would require a full rewrite — recreate +
        re-ingest to change it).
        """
        tx = self._require_tx()
        if self._table_exists_in_tx(tx, table):
            raise TableExistsError(table)
        ddl, action = self._prepare_create_action(
            table, schema, primary_keys, bloom_columns, cluster_by,
            bucket_by, checks, not_null, generated, identity,
        )
        tx.new_tables[table] = ddl
        tx.actions.append(action)

    @staticmethod
    def _table_exists_in_tx(tx: "_Tx", table: str) -> bool:
        """The create/replace existence predicate, in ONE spelling so
        the two doorways cannot drift (ADVICE r14): a name exists when
        the committed snapshot carries it and this tx has not dropped
        it, OR this tx declares it (tx.new_tables — which doubles as
        pending DDL on committed tables, but those names are in the
        snapshot anyway, so the union is still exactly 'visible now')."""
        dropped_in_tx = {
            a.table for a in tx.actions if isinstance(a, DropTable)
        }
        return (
            table in tx.snapshot.tables and table not in dropped_in_tx
        ) or table in tx.new_tables

    def _prepare_create_action(
        self,
        table: str,
        schema: Union[str, T.StructType],
        primary_keys: Optional[list[str]] = None,
        bloom_columns: Optional[list[str]] = None,
        cluster_by: Optional[list[str]] = None,
        bucket_by: Optional[tuple] = None,
        checks: Optional[dict[str, str]] = None,
        not_null: Optional[list[str]] = None,
        generated: Optional[dict[str, str]] = None,
        identity: Optional[dict[str, dict]] = None,
    ) -> "tuple[str, ChangeMetadata]":
        """Parse + validate a CREATE's declarations and build its
        ChangeMetadata WITHOUT touching transaction state — the shared
        validation phase of :meth:`create_table` and
        :meth:`create_or_replace_table`. The replace verb must validate
        BEFORE it drops: a declaration that fails after the drop would
        leave an uncommitted DropTable behind, and a caller that
        catches the error and commits would destroy the table with no
        replacement (review catch, r14)."""
        if isinstance(schema, str):
            ddl = schema
        else:
            ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in schema.fields)
        parsed = self._parse_ddl(ddl)  # validate
        reserved = [f.name for f in parsed.fields if f.name in _RESERVED_COLS]
        if reserved:
            # the r8 memory's "every name-introducing API" rule:
            # add_columns/rename_column already enforce this, but
            # CREATE was the missed doorway (review catch, r10 — a
            # user column named __upd would be silently destroyed by
            # update_rows' working mask)
            raise TypeMismatchError(
                f"reserved column name(s) {reserved}: the engine uses"
                " them for stamps, positional reads, working masks,"
                " and the Parquet _metadata pseudo-column"
            )
        pks = list(primary_keys or [])
        missing = set(pks) - {f.name for f in parsed.fields}
        if missing:
            raise TypeMismatchError(f"primary keys not in schema: {sorted(missing)}")
        blooms = list(bloom_columns or [])
        missing_b = set(blooms) - {f.name for f in parsed.fields}
        if missing_b:
            raise TypeMismatchError(f"bloom columns not in schema: {sorted(missing_b)}")
        clus = list(cluster_by or [])
        missing_c = set(clus) - {f.name for f in parsed.fields}
        if missing_c:
            raise TypeMismatchError(f"cluster columns not in schema: {sorted(missing_c)}")
        bcols: list[str] = []
        bn = 0
        if bucket_by is not None:
            try:
                raw_cols, bn = bucket_by
            except (TypeError, ValueError):
                raise TypeMismatchError(
                    f"bucket_by must be (columns, n_buckets), got {bucket_by!r}"
                )
            bcols = [raw_cols] if isinstance(raw_cols, str) else list(raw_cols)
            bn = int(bn)
            if not bcols:
                raise TypeMismatchError("bucket_by columns must be non-empty")
            if bn < 1:
                raise TypeMismatchError(f"bucket_by n_buckets={bn!r} must be >= 1")
            missing_bk = set(bcols) - {f.name for f in parsed.fields}
            if missing_bk:
                raise TypeMismatchError(
                    f"bucket columns not in schema: {sorted(missing_bk)}"
                )
            if clus:
                raise TypeMismatchError(
                    "bucket_by and cluster_by are mutually exclusive - both"
                    " dictate the write partitioning"
                )
        all_checks = dict(checks or {})
        for col in not_null or []:
            if col not in {f.name for f in parsed.fields}:
                raise TypeMismatchError(f"NOT NULL column not in schema: {col!r}")
            name = f"{col}_not_null"
            expr = f"{col} IS NOT NULL"
            if all_checks.get(name, expr) != expr:
                # never silently clobber a user CHECK that took the name
                raise TypeMismatchError(
                    f"CHECK constraint name {name!r} is reserved for the"
                    f" NOT NULL declaration on {col!r} but carries a"
                    f" different expression ({all_checks[name]!r}) - rename"
                    " the user constraint"
                )
            all_checks[name] = expr
        gen_map = dict(generated or {})
        gen_names = set(gen_map)
        if gen_map:
            # one probe for every declaration: the expressions must
            # analyze over the NON-generated columns only — no
            # self-reference, no generated-from-generated chains
            # (Delta's restriction; write-time fill order would
            # otherwise matter)
            reduced = T.StructType(
                [f for f in parsed.fields if f.name not in gen_names]
            )
            probe = self.spark.createDataFrame([], reduced)
        for col, gexpr in gen_map.items():
            if col not in {f.name for f in parsed.fields}:
                raise TypeMismatchError(
                    f"GENERATED column not in schema: {col!r}"
                )
            try:
                gdf = probe.selectExpr(f"({gexpr}) AS __g")
                gdf.schema
            except Exception as e:
                raise TypeMismatchError(
                    f"GENERATED expression for {col!r} must be a"
                    f" deterministic expression over the table's"
                    f" non-generated columns: {gexpr!r} failed to"
                    f" analyze ({e})"
                ) from None
            # reject NON-DETERMINISTIC or time/session-dependent
            # expressions at declaration (Delta does the same): the
            # fill projection and the implicit CHECK evaluate the
            # expression independently, so rand()/uuid() would make
            # every omitted-column write fail forever, and clock/
            # session functions (current_date, unix_timestamp(),
            # current_user ...) would fail every later COW rewrite's
            # revalidation (review catches, r10). Authority: Catalyst's
            # Expression.deterministic plus a walk of the ANALYZED
            # tree for clock/session NODES — unix_timestamp() analyzes
            # to UnixTimestamp(CurrentTimestamp()), so node classes
            # catch wrappers the raw text never names, and string
            # literals containing 'now' cannot false-positive. Only if
            # JVM introspection is unavailable (e.g. Spark Connect)
            # does a conservative NAME regex take over — it may reject
            # odd literals, never accept the broken class.
            bad_reason = None
            try:
                exprs = gdf._jdf.queryExecution().analyzed().expressions()
                clock_nodes = {
                    "CurrentDate", "CurrentTimestamp", "Now",
                    "LocalTimestamp", "CurrentTimeZone", "CurrentUser",
                    "CurrentDatabase", "CurrentCatalog",
                }
                queue = [exprs.apply(i) for i in range(exprs.size())]
                while queue and bad_reason is None:
                    e = queue.pop()
                    if not e.deterministic():
                        bad_reason = "non-deterministic"
                    elif e.getClass().getSimpleName() in clock_nodes:
                        bad_reason = "clock/session-dependent"
                    else:
                        ch = e.children()
                        queue.extend(
                            ch.apply(j) for j in range(ch.size())
                        )
            except Exception:
                # degraded environment: conservative name check (may
                # over-reject literals; never under-rejects)
                if re.search(
                    r"\b(rand|randn|random|uuid|shuffle"
                    r"|monotonically_increasing_id|current_date"
                    r"|current_timestamp|localtimestamp|now|curdate"
                    r"|unix_timestamp|current_timezone|session_user"
                    r"|current_user|user|current_database"
                    r"|current_catalog)\b",
                    gexpr,
                    re.IGNORECASE,
                ):
                    bad_reason = "possibly non-deterministic (name match)"
            if bad_reason:
                raise TypeMismatchError(
                    f"GENERATED expression for {col!r} must be"
                    f" deterministic and time/session-independent:"
                    f" {gexpr!r} is {bad_reason} (its value could not"
                    " be revalidated at COW rewrites)"
                )
            name = f"{col}_generated"
            expr = f"{col} <=> ({gexpr})"
            if all_checks.get(name, expr) != expr:
                raise TypeMismatchError(
                    f"CHECK constraint name {name!r} is reserved for the"
                    f" GENERATED declaration on {col!r} but carries a"
                    f" different expression ({all_checks[name]!r}) -"
                    " rename the user constraint"
                )
            # supplied values are validated by this implicit CHECK at
            # EVERY write (null-safe equality: a wrong or NULL value
            # where the expression yields one raises in-plan); omitted
            # columns are computed before the funnel ever sees them
            all_checks[name] = expr
        ident_map: dict[str, dict] = {}
        for col, ispec in (identity or {}).items():
            # IDENTITY (Delta's GENERATED ALWAYS AS IDENTITY): a minted
            # BIGINT sequence — start/step declared, "high" tracks the
            # furthest allocated value (start - step before the first)
            f = next((f for f in parsed.fields if f.name == col), None)
            if f is None:
                raise TypeMismatchError(f"IDENTITY column not in schema: {col!r}")
            if not isinstance(f.dataType, T.LongType):
                raise TypeMismatchError(
                    f"IDENTITY column {col!r} must be BIGINT, is"
                    f" {f.dataType.simpleString()}"
                )
            if col in gen_names:
                raise TypeMismatchError(
                    f"column {col!r} cannot be both GENERATED and IDENTITY"
                )
            if col in clus or col in bcols:
                raise TypeMismatchError(
                    f"IDENTITY column {col!r} cannot drive the write"
                    " layout (cluster/bucket): its values are minted"
                    " AFTER the layout partitioning"
                )
            try:
                start = int(ispec.get("start", 1))
                step = int(ispec.get("step", 1))
                high = int(ispec.get("high", start - step))
            except (TypeError, ValueError):
                raise TypeMismatchError(
                    f"IDENTITY spec for {col!r} must carry integer"
                    f" start/step, got {ispec!r}"
                )
            if step == 0:
                raise TypeMismatchError(
                    f"IDENTITY step for {col!r} must be non-zero"
                )
            mode = str(ispec.get("mode", "always")).lower()
            if mode not in ("always", "default"):
                raise TypeMismatchError(
                    f"IDENTITY mode for {col!r} must be 'always' or"
                    f" 'default' (GENERATED ALWAYS / BY DEFAULT), got"
                    f" {ispec.get('mode')!r}"
                )
            ident_map[col] = {
                "start": start,
                "step": step,
                "high": high,
                "mode": mode,
            }
        checks_map = self._validate_checks(parsed, all_checks)
        return ddl, ChangeMetadata(
            table=table,
            schema_ddl=ddl,
            primary_keys=pks,
            bloom_columns=blooms,
            cluster_by=clus,
            bucket_by=bcols,
            bucket_count=bn,
            checks=checks_map,
            generated=gen_map,
            identity=ident_map,
        )

    def create_or_replace_table(
        self,
        table: str,
        schema: Union[str, T.StructType],
        **declarations: Any,
    ) -> None:
        """CREATE OR REPLACE TABLE (Delta's verb): atomic
        drop-if-exists + fresh-lineage create in ONE commit — readers
        see the old table or the new one, never a window where the
        name is missing. A trivial composition of the lifecycle verbs
        the log already has (RENAME composes clone+drop the same way):
        the commit carries the O(1) ``drop`` action followed by the
        new authoritative metadata.

        Consequences are exactly drop + create: the replacement is a
        FRESH lineage (new column mapping, identity marks, reset
        declarations — nothing of the old incarnation survives, not
        even with an identical schema), vacuum reclaims the old data
        objects after retention, time travel below the replace still
        reads the old incarnation, and a tailing stream or change feed
        positioned on the old lineage raises the named
        :class:`TableDroppedError` instead of silently splicing the
        new rows. Replacing a MISSING table is a plain create (Delta's
        contract; no drop record is written). Concurrency: the replace
        conflicts first-committer-wins with any same-table commit,
        like every metadata change.

        ``declarations`` forwards to the shared validation phase
        (:meth:`_prepare_create_action`), same keywords as
        :meth:`create_table`
        (primary_keys, bloom_columns, cluster_by, bucket_by, checks,
        not_null, generated, identity)."""
        tx = self._require_tx()
        # VALIDATE FIRST (no tx mutation): a failing declaration must
        # leave the transaction exactly as it was — never an orphaned
        # uncommitted drop (see _prepare_create_action)
        ddl, action = self._prepare_create_action(
            table, schema, **declarations
        )
        if self._table_exists_in_tx(tx, table):
            self.drop_table(table)
        tx.new_tables[table] = ddl
        tx.actions.append(action)

    def drop_table(self, table: str) -> None:
        """DROP TABLE: remove ``table`` from the lake.

        The commit carries ONE O(1) ``drop`` action (never O(files)
        removes — see :class:`~delta_lake_experiment_spark.plans.\
actions.DropTable` for why clearing the live set on fold is
        observationally identical). Lifecycle consequences:

        - the fold clears the table's schema, live set, DV masks and
          every metadata carrier, so scans raise
          :class:`TableNotFoundError` and the next CHECKPOINT sheds
          the table entirely — its by-table sidecar parts stop being
          referenced and retention reclaims them;
        - ``vacuum`` reclaims the table's data/DV/bloom objects once
          no RETAINED version references them (the drop inside the
          retained window keeps them readable for time travel below
          the drop, exactly like a big COW delete);
        - a recreate under the same name gets a FRESH lineage (new
          column mapping, identity marks, declarations) and never
          resurrects old files — nothing references them;
        - a tailing stream or change feed crossing the drop raises the
          named :class:`TableDroppedError`;
        - MIXED-FLEET safety: ``drop`` is a new action kind, which a
          legacy parser fails on loudly (the reference's unknown-
          action panic, transactions.go:95-97). The FIRST drop on a
          log additionally pre-stamps the ``dropTable``
          reader+writer protocol feature in an EARLIER commit (the
          vacuum_log truncatedHistory pattern), so masked clients get
          the NAMED UnsupportedTableFeatureError at the protocol fold
          — before ever reaching the record they cannot parse. Time
          travel pinned below the stamp stays readable to them.

        Dropping a table CREATED IN THIS TX simply unwinds the
        pending creation (no drop record needed — nothing was ever
        committed); its staged objects become orphans reclaimed by
        ``vacuum``, same as an aborted transaction's. In both paths
        the tx's buffered rows and staged actions for the table are
        discarded, so the commit publishes no writes to a table it
        drops.
        """
        tx = self._require_tx()
        dropped_before = any(
            isinstance(a, DropTable) and a.table == table for a in tx.actions
        )
        # tx.new_tables doubles as "pending DDL this tx" for schema
        # evolution on COMMITTED tables (add/rename/drop/widen columns,
        # restore) — presence there is NOT proof of a creation. Only a
        # name the committed snapshot does not carry (or one recreated
        # after an in-tx drop) is an uncommitted creation to unwind;
        # dropping a committed table that merely has pending DDL is a
        # REAL drop (review catch, r14: the old check silently unwound
        # the alter and skipped the drop record entirely)
        born_here = table in tx.new_tables and (
            table not in tx.snapshot.tables or dropped_before
        )
        if not born_here and (
            table not in tx.snapshot.tables or dropped_before
        ):
            raise TableNotFoundError(table)
        # discard this tx's pending state for the table: buffered rows
        # must not flush into the dropped table at commit, and staged
        # same-table actions would be dead weight in the record (their
        # staged files are vacuum-reclaimable orphans either way)
        tx.buffers.pop(table, None)
        tx.next_idx.pop(table, None)
        tx.ident_cache.pop(table, None)
        tx.ident_probe.pop(table, None)
        for key in [k for k in tx.identity_hwm if k[0] == table]:
            tx.identity_hwm.pop(key)
        for key in [k for k in self._ident_blocks if k[0] == table]:
            # reserved blocks die with the lineage (the lineage check in
            # _alloc_identity guards OTHER clients' stale blocks)
            self._ident_blocks.pop(key)
        prev = self._bucket_scans.pop(table, None)
        if prev is not None:
            # the bucketed-scan catalog registration and its hard-linked
            # area die with the table: they would otherwise keep serving
            # the dropped rows through spark.table() and pin the
            # vacuumed bytes alive via the hard links (review catch)
            try:
                self.spark.sql(f"DROP TABLE IF EXISTS `{prev[0]}`")
            finally:
                prev[1].drop()
        for key in [k for k in tx.ident_minted if k[0] == table]:
            tx.ident_minted.pop(key)
        # DropTable actions are kept: they refer to a PREVIOUS
        # incarnation of the name (drop -> recreate -> drop-the-
        # recreate must not cancel the original drop)
        tx.actions = [
            a
            for a in tx.actions
            if isinstance(a, (Protocol, DropTable)) or a.table != table
        ]
        if born_here:
            tx.new_tables.pop(table)
            return
        # a committed table's pending in-tx DDL (schema evolution,
        # restore) dies with the drop — and must leave new_tables so a
        # recreate under the name is not refused as taken
        tx.new_tables.pop(table, None)
        if FEATURE_DROP_TABLE not in tx.snapshot.protocol["rf"]:
            # pre-stamp in a SEPARATE, EARLIER commit so the named gate
            # folds before the first drop record (see docstring). Costs
            # one OCC collision+retry on this tx's commit the first
            # time a log ever drops a table; subsequent drops see the
            # stamp in their snapshot and skip this entirely.
            self._commit_protocol_record(
                [FEATURE_DROP_TABLE], [FEATURE_DROP_TABLE]
            )
            # fold locally so _stamp_protocol doesn't append a
            # redundant (harmless, but noisy) protocol action
            tx.snapshot.protocol["rf"] = sorted(
                set(tx.snapshot.protocol["rf"]) | {FEATURE_DROP_TABLE}
            )
            tx.snapshot.protocol["wf"] = sorted(
                set(tx.snapshot.protocol["wf"]) | {FEATURE_DROP_TABLE}
            )
        tx.actions.append(DropTable(table=table, tx_id=tx.id))

    def _walk_drops(
        self, stop_table: Optional[str] = None
    ) -> tuple[list[dict], set[int]]:
        """Newest-first walk of the surviving log records collecting
        ``drop`` actions. Returns ``(drops, record_versions)`` where
        ``drops`` is newest-first ``{"table", "version", "ts_us"}``
        dicts and ``record_versions`` the versions the walk visited.

        ``stop_table`` stops at the FIRST (newest) drop of that name —
        the :meth:`undrop_table` fast path pays O(records since the
        drop); a full walk (discovery, or a name never dropped) pays
        O(surviving records), and checkpoints cannot prune it: a
        create+drop entirely inside one checkpoint window is invisible
        at both boundary states."""
        drops: list[dict] = []
        versions: set[int] = set()
        # a record vacuum_log reclaims mid-walk is skipped; a corrupt one
        # raises — skipping a corrupt NEWEST drop record would find an
        # OLDER drop of the name and resurrect the wrong incarnation
        for v, record in records_newest_first(self.store):
            versions.add(v)
            hit = False
            for a in record.get("actions", []):
                d = a.get("drop")
                if d:
                    drops.append(
                        {
                            "table": d["table"],
                            "version": v,
                            "ts_us": record.get("ts"),
                        }
                    )
                    if d["table"] == stop_table:
                        hit = True
            if hit:
                break
        return drops, versions

    @staticmethod
    def _replayable_version(
        v: int, record_versions: set[int], checkpoint_versions: list[int]
    ) -> bool:
        """Whether ``replay_log(as_of=v)`` can reconstruct state ``v``
        from the surviving metadata: an anchor (a checkpoint at
        ``c <= v``, or the empty genesis state) plus a contiguous
        record run ``(c, v]``. Pure set arithmetic over versions the
        caller already listed — no extra store reads."""
        if v <= 0:
            return True  # genesis: the empty v0 snapshot
        floor = v + 1  # lowest f with f..v contiguous in the log
        while floor - 1 >= 1 and (floor - 1) in record_versions:
            floor -= 1
        if floor == 1:
            return True  # full history survives: genesis anchors it
        return any(floor - 1 <= c <= v for c in checkpoint_versions)

    def list_dropped_tables(self, verify_bytes: bool = False) -> list[dict]:
        """Dropped-table discovery (Delta's SHOW DROPPED TABLES): one
        newest-first walk of the surviving log yielding, per drop
        record, ``table``, ``version`` (the drop commit),
        ``dropped_at`` (UTC commit timestamp, None for records
        predating timestamp recording), ``recoverable`` (could
        :meth:`undrop_table` succeed NOW), and ``reason`` (None when
        recoverable).

        Not recoverable when: the name is currently taken (a live
        table shadows the recovery target), the drop is an OLDER
        incarnation of a name dropped again later (undrop always
        recovers the newest drop), or the state below the drop is past
        the ``vacuum_log`` retention horizon (no surviving anchor —
        the :class:`HistoryTruncatedError` undrop would raise).

        By DEFAULT the judgment is METADATA-level: ``recoverable=True``
        does not existence-probe the data objects (that would cost
        per-table work in a discovery listing); :meth:`undrop_table`
        itself probes them and fails loudly when ``vacuum`` already
        reclaimed the bytes — so the default field answers 'could
        undrop find a replayable anchor', not 'would it succeed
        against the store right now' (VERDICT r14 #1 named the gap).
        ``verify_bytes=True`` (SQL: ``SHOW DROPPED TABLES VERIFY``)
        closes it: each recoverable candidate additionally pays one
        pinned replay below its drop plus undrop's own batched
        per-class LIST probe (:meth:`_probe_reclaimed` — the SAME code
        undrop runs), downgrading ``recoverable`` to False with a
        ``data objects reclaimed by vacuum`` reason when any expected
        object is CONFIRMED gone. An incident triage can then trust
        the listing verbatim. The default stays metadata-only so the
        listing stays O(surviving records) regardless of how many
        tables it reports.

        Like DESCRIBE HISTORY, reads committed shared metadata — no
        open transaction required, and an open tx's uncommitted
        drops/creates are not reflected.

        Cost: O(surviving records) reads + one checkpoint LIST — the
        same walk a single failed undrop pays, yielding every answer
        at once instead of one not-found; ``verify_bytes`` adds, per
        RECOVERABLE candidate only, one pinned replay + O(files/page)
        LIST pages (exactly one undrop's probe bill)."""
        drops, record_versions = self._walk_drops()
        checkpoints = checkpoint_versions(self.store)
        current = self._current_snapshot()[0].copy()
        newest_seen: set[str] = set()
        out: list[dict] = []
        for d in drops:  # newest-first by construction
            t, v = d["table"], d["version"]
            if t in newest_seen:
                reason = (
                    "an older incarnation: only the NEWEST drop of a"
                    " name is recoverable"
                )
            else:
                newest_seen.add(t)
                if t in current.tables:
                    # NOT 'rename/drop the live table first': either
                    # would itself become the NEWEST drop of the name,
                    # so undrop would recover the live incarnation,
                    # never this one (r15 review catch — the old hint
                    # sent the operator down a path that cannot work)
                    reason = (
                        "the name is currently taken by a live table;"
                        " recover this incarnation via time travel"
                        f" below its drop (VERSION AS OF {v - 1})"
                        " into a new table"
                    )
                elif not self._replayable_version(
                    v - 1, record_versions, checkpoints
                ):
                    reason = (
                        "the state below the drop is past the"
                        " vacuum_log retention horizon"
                    )
                else:
                    reason = None
                    if verify_bytes:
                        reason = self._verify_undrop_bytes(t, v)
            ts_us = d["ts_us"]
            out.append(
                {
                    "table": t,
                    "version": v,
                    "dropped_at": (
                        datetime.datetime.fromtimestamp(
                            ts_us / 1_000_000, tz=datetime.timezone.utc
                        ).replace(tzinfo=None)
                        if ts_us is not None
                        else None
                    ),
                    "recoverable": reason is None,
                    "reason": reason,
                }
            )
        return out

    def _verify_undrop_bytes(self, table: str, drop_v: int) -> Optional[str]:
        """The ``verify_bytes`` check for one recoverable-by-metadata
        drop: pinned replay below the drop, then undrop's own batched
        probe over the same expected-object set. Returns a downgrade
        reason, or None when the bytes are (as far as the store will
        confirm) still there. Races are tolerated the same way undrop
        tolerates them: a vacuum_log that reclaims the anchor mid-walk
        downgrades with the horizon reason instead of raising, and an
        unconfirmable absence (tri-state ``exists()`` = None) keeps
        the assume-present contract."""
        try:
            old = replay_log(self.store, as_of=drop_v - 1)
        except HistoryTruncatedError:
            return (
                "the state below the drop is past the vacuum_log"
                " retention horizon"
            )
        if table not in old.tables:
            return (
                f"the state below the drop (v{drop_v}) does not carry"
                " the table"
            )
        expected = self._undrop_expected_objects(old, table)
        missing, gone_example = self._probe_reclaimed(expected)
        if gone_example is not None:
            return (
                f"data objects reclaimed by vacuum ({len(missing)} of"
                f" {len(expected)} absent from the store listing;"
                f" first confirmed gone: {gone_example!r})"
            )
        return None

    @staticmethod
    def _undrop_expected_objects(old: "Snapshot", table: str) -> set[str]:
        """Every store object the pre-drop state references for
        ``table`` — data objects, DV masks, bloom sidecars. ONE
        spelling shared by :meth:`undrop_table`'s probe and
        :meth:`list_dropped_tables`'s ``verify_bytes`` so the two can
        never disagree about what 'the bytes' means."""
        old_objs = old.live_map(table)
        dv_names = {
            d for dvl in old.table_dvs(table).values() for d in dvl
        }
        bloom_refs = {
            b["ref"]
            for add in old_objs.values()
            for b in add.blooms.values()
            if isinstance(b, dict) and "ref" in b
        }
        return set(old_objs) | dv_names | bloom_refs

    def _probe_reclaimed(
        self, expected: set[str]
    ) -> "tuple[list[str], Optional[str]]":
        """BATCHED existence probing (VERDICT r13 #1): one prefix LIST
        per name prefix instead of O(files) serial driver HEADs — at
        10^6 files that is the difference between ~10^3 LIST pages
        and 10^6 round trips (the client.py _read_data anti-shape
        note, applied to recovery). Prefixes are derived from the
        EXPECTED NAMES themselves (everything up to the final ``_``
        — the uuid carries no underscore), NOT from the table name:
        a renamed or cloned table's objects keep their SOURCE
        table's ``table_<src>_`` names, and deriving from the
        current name would silently degrade those recoveries back to
        per-object probes (review catch, r14). Listings are
        intersected against the expected set, never trusted alone
        (``table_t_`` is a prefix of table ``t_x``'s object names).
        Tiny prefix groups (a handful of bloom sidecars, a short
        rename tail) probe directly — cheaper than a LIST.

        Returns ``(missing, gone_example)``: names absent from the
        listings, and the first one the tri-state ``exists()``
        CONFIRMS gone (None when every absence is unconfirmed — a
        backend that cannot answer keeps the assume-present contract:
        fail loud later at scan, never a false already-reclaimed
        refusal). The confirmation stops at the FIRST gone object:
        one is proof enough to refuse, and a fully vacuumed
        10^6-file table must cost one probe on the way to the error.
        Normally ``missing`` is empty, so the happy path costs zero
        probes."""
        present: set[str] = set()
        by_prefix: dict[str, set[str]] = {}
        for n in expected:
            by_prefix.setdefault(n.rsplit("_", 1)[0] + "_", set()).add(n)
        for prefix, names in sorted(by_prefix.items()):
            if len(names) <= 8:
                present.update(
                    n for n in names if self.store.exists(n) is not False
                )
            else:
                present.update(
                    n
                    for n in self.store.list_prefix_ordered(prefix)
                    if n in expected
                )
        missing = sorted(expected - present)
        gone_example = next(
            (n for n in missing if self.store.exists(n) is False), None
        )
        return missing, gone_example

    def undrop_table(self, table: str) -> int:
        """UNDROP TABLE (Delta's recovery verb): restore a dropped
        table from the version just below its drop record, while the
        drop is still inside BOTH retention windows (``vacuum_log``
        must not have reclaimed the drop record's history, ``vacuum``
        must not have reclaimed the data objects — every object is
        existence-probed up front so a half-reclaimed table fails
        LOUDLY here, never lazily at scan time).

        The commit is a resurrection in legacy action shapes (no new
        protocol feature needed): one authoritative metadata record
        carrying every pre-drop declaration — identity high-water
        marks included, so post-undrop minting continues past the old
        ids — plus the pre-drop live set re-added (NOT rewrite-tagged:
        like RESTORE's re-adds, a concurrent reader that observed the
        keys' absence must conflict) and the pre-drop DV masks
        re-attached, so soft-deleted rows STAY deleted.

        The undrop starts a new feed LINEAGE (fresh ``born``): change
        feeds and streams positioned below the drop still refuse to
        cross it — data recovery does not retroactively splice
        consumers over the gap they already cannot serve. Returns the
        number of data objects restored.

        Cost: a newest-first walk of the surviving log records to find
        the drop (O(records since the drop) reads), one pinned replay
        below it, BATCHED existence probing — one prefix LIST per
        object class (data/DV/bloom) intersected against the expected
        set, O(files/page) LIST pages instead of O(files) serial HEADs
        — and O(files) re-add actions: the honest price of an explicit
        recovery operation, paid only when invoked (the DROP itself
        stays O(1)). Worst case: a name that was NEVER dropped (e.g. a
        typo) walks the full surviving log before the loud not-found
        error — checkpoint boundary states cannot prune the search,
        because a create+drop (or drop+recreate+drop) entirely inside
        one checkpoint window is invisible at both boundaries; the
        error then names what IS recoverable (the walk already saw
        every drop record), and :meth:`list_dropped_tables` / ``SHOW
        DROPPED TABLES`` answer the discovery question up front.

        RE-REFERENCE race (shared with :meth:`restore_table`; Delta's
        RESTORE+VACUUM have the same window): this commit re-references
        objects that are UNREFERENCED until it lands, so a concurrent
        ``vacuum`` can reclaim them between the existence probe and the
        commit — vacuum's ``min_age_seconds`` guard covers young
        objects of in-flight WRITES, not old objects of in-flight
        re-references. The failure is loud (the probe, or the first
        scan's missing-file error), never silent; the operational rule
        is the one vacuum already documents: recovery operations and
        GC share one maintenance lane, not a race."""
        tx = self._require_tx()
        snap = self._effective_snapshot(tx)
        if table in snap.tables or table in tx.new_tables:
            raise TableExistsError(
                f"cannot undrop {table!r}: the name is currently taken"
                " (a recreate is a fresh lineage). UNDROP always"
                " recovers the NEWEST drop of a name — and renaming or"
                " dropping the live table would itself BECOME that"
                " newest drop, so neither step reaches the incarnation"
                " you are after. Recovery recipe, composed from"
                " shipped verbs: read the dropped incarnation by time"
                " travel below its drop — scan_as_of / SELECT ..."
                " VERSION AS OF (SHOW DROPPED TABLES lists the drop"
                " version) — and ingest it into a new table"
            )
        if any(
            isinstance(a, DropTable) and a.table == table
            for a in tx.actions
        ):
            raise TypeMismatchError(
                f"cannot undrop {table!r}: its drop is still UNCOMMITTED"
                " in this transaction - there is nothing in the log to"
                " recover from yet (commit the drop first, or just keep"
                " the table)"
            )
        drops, _ = self._walk_drops(stop_table=table)
        drop_v = next(
            (d["version"] for d in drops if d["table"] == table), None
        )
        if drop_v is None:
            # the failed walk covered the FULL surviving log, so the
            # drops it collected along the way ARE the discovery
            # listing — answer the typo with what IS recoverable
            # instead of a bare not-found (zero extra store reads)
            others = sorted({d["table"] for d in drops})
            hint = (
                f" Dropped tables in the surviving log: {others}"
                " (see list_dropped_tables / SHOW DROPPED TABLES)."
                if others
                else " No table was ever dropped in the surviving log."
            )
            raise TableNotFoundError(
                f"cannot undrop {table!r}: no drop record found in the"
                " surviving log (the table never existed, or the drop"
                " is older than the vacuum_log retention horizon)."
                + hint
            )
        # pinned replay below the drop: raises the named
        # HistoryTruncatedError itself when that state is gone
        old = replay_log(self.store, as_of=drop_v - 1)
        if table not in old.tables:
            raise TableNotFoundError(
                f"cannot undrop {table!r}: the state below its drop"
                f" (v{drop_v}) does not carry the table"
            )
        old_objs = old.live_map(table)
        old_dvs = old.table_dvs(table)
        expected = self._undrop_expected_objects(old, table)
        missing, gone_example = self._probe_reclaimed(expected)
        if gone_example is not None:
            raise TableNotFoundError(
                f"cannot undrop {table!r}: {len(missing)} of its"
                f" {len(expected)} objects are absent from the store"
                " listing, at least one confirmed reclaimed by vacuum"
                f" (first confirmed gone: {gone_example!r}) - the drop"
                " is past the data retention window"
            )
        tx.actions.append(
            self._authoritative_metadata(old, table, old.tables[table])
        )
        tx.new_tables[table] = old.tables[table]  # visible pre-commit
        for add in old_objs.values():
            tx.actions.append(dataclasses.replace(add, rewrite=False))
        for obj, dv_list in old_dvs.items():
            for dv in dv_list:
                tx.actions.append(
                    AddDeletionVector(
                        table=table, dv_name=dv, objects=[obj], tx_id=tx.id
                    )
                )
        return len(old_objs)

    def add_columns(self, table: str, columns_ddl: str) -> None:
        """Schema evolution: append new nullable columns.

        The reference's schema evolution is broken by design — adding a
        column then range-deleting on it explodes on old rows
        (README.md:45-46). Here it is safe by construction: the new DDL
        rides the same last-writer-wins ``ChangeMetadata`` action, old
        Parquet objects simply read the missing columns as NULL (schema
        merge at scan), and range predicates skip NULLs — so a delete on
        a new column leaves pre-evolution rows untouched instead of
        failing.

        ``c TYPE DEFAULT <literal>`` (Delta's existingDefault) makes
        rows STAMPED before this transaction read the literal wherever
        the column is NULL — zero data written; the substitution is a
        ``_tx_id``-gated projection at scan. The ``_tx_id`` stamp
        survives COW rewrites, so the pre-birth test is rewrite-stable
        (a rewrite materializes the default it read, and the stamped
        gate then coalesces over the now-stored value — same answer).
        Rows written at/after the add read their stored values,
        explicit NULLs included. Contract edge, documented: an
        ``update_rows`` that sets a PRE-birth row's defaulted column to
        NULL reads back as the default (stamps are preserved by
        design). Defaults are int/float/str/bool literals — the JSON
        log carries them verbatim.
        """
        tx = self._require_tx()
        current = self.table_schema(table)
        columns_ddl, new_defaults = self._split_defaults(columns_ddl)
        added = self._parse_ddl(columns_ddl)
        bad = [f.name for f in added.fields if f.name in _RESERVED_COLS]
        if bad:
            raise TypeMismatchError(
                f"reserved column name(s) {bad}: the engine uses them"
                " for stamps, positional reads, and the Parquet"
                " _metadata pseudo-column"
            )
        int_ranges = {
            T.ByteType: 7, T.ShortType: 15, T.IntegerType: 31, T.LongType: 63,
        }
        for cname, dv in new_defaults.items():
            dt = added[cname].dataType
            # value-level validation, not just Python-type: an
            # out-of-range or non-integral default would commit fine
            # and then blow up EVERY subsequent read at the lit-cast
            # (ANSI CAST_OVERFLOW) or silently truncate
            bits = next(
                (b for t, b in int_ranges.items() if isinstance(dt, t)), None
            )
            if bits is not None:
                ok = (
                    isinstance(dv, int)
                    and not isinstance(dv, bool)
                    and -(2**bits) <= dv <= 2**bits - 1
                )
            elif isinstance(dt, (T.FloatType, T.DoubleType)):
                ok = isinstance(dv, (int, float)) and not isinstance(dv, bool)
            elif isinstance(dt, T.StringType):
                ok = isinstance(dv, str)
            elif isinstance(dt, T.BooleanType):
                ok = isinstance(dv, bool)
            else:
                ok = False
            if not ok:
                raise TypeMismatchError(
                    f"DEFAULT {dv!r} does not fit column {cname}"
                    f" {dt.simpleString()} (int/float/str/bool literals"
                    " matching the column type AND range only)"
                )
        dup = {f.name for f in added.fields} & {f.name for f in current.fields}
        if dup:
            raise TypeMismatchError(f"columns already exist: {sorted(dup)}")
        ddl = ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in (*current.fields, *added.fields)
        )
        # Column mapping: a new column gets a FRESH physical name when
        # its logical name ever existed physically (currently mapped or
        # retired by a drop) — reusing one would resurrect old file
        # data into the new column.
        snap = self._effective_snapshot(tx)
        retired = list(snap.retired.get(table, []))
        full = {
            f.name: snap.col_maps.get(table, {}).get(f.name, f.name)
            for f in current.fields
        }
        used = set(full.values()) | set(retired)
        for f in added.fields:
            phys, k = f.name, 0
            while phys in used:
                k += 1
                phys = f"{f.name}__p{tx.id}_{k}"
            full[f.name] = phys
            used.add(phys)
        defaults = {
            c: dict(v) for c, v in snap.defaults.get(table, {}).items()
        }
        for cname, dv in new_defaults.items():
            defaults[cname] = {"v": dv, "birth": tx.id}
        # new_tables doubles as "pending DDL this tx" so table_schema
        # sees the widened shape before commit
        tx.new_tables[table] = ddl
        tx.actions.append(
            ChangeMetadata(
                table=table,
                schema_ddl=ddl,
                column_map=full,
                retired_phys=retired,
                col_defaults=defaults,
            )
        )
        # rewrite already-buffered rows to the widened shape; buffered
        # rows are stamped with THIS tx id (>= birth), so they take the
        # explicit NULL, not the default — same-tx writes are post-birth
        for i, (idx, row) in enumerate(tx.buffers.get(table, [])):
            if row is not None:
                tx.buffers[table][i] = (idx, list(row) + [None] * len(added.fields))

    @staticmethod
    def _split_defaults(columns_ddl: str) -> tuple[str, dict]:
        """Strip ``DEFAULT <literal>`` suffixes from an add-columns DDL:
        returns (bare DDL, {column: python literal}). Literals follow
        the SQL micro-grammar: int, float, single-quoted string (with
        '' escaping), TRUE/FALSE."""
        from delta_lake_experiment_spark.plans.dml import (
            _split_top_level_commas,
        )

        out_parts, defaults = [], {}
        lit = r"(?:-?\d+\.\d+|-?\d+|'(?:[^']|'')*'|TRUE|FALSE)"
        pat = re.compile(
            rf"^\s*([A-Za-z_][A-Za-z0-9_]*)\s+(.+?)\s+DEFAULT\s+({lit})\s*$",
            re.IGNORECASE,
        )
        for part in _split_top_level_commas(columns_ddl):
            m = pat.match(part)
            if not m:
                out_parts.append(part)
                continue
            name, typ, tok = m.group(1), m.group(2), m.group(3)
            if tok.upper() in ("TRUE", "FALSE"):
                v: Any = tok.upper() == "TRUE"
            elif tok.startswith("'"):
                v = tok[1:-1].replace("''", "'")
            elif "." in tok:
                v = float(tok)
            else:
                v = int(tok)
            defaults[name] = v
            out_parts.append(f"{name} {typ}")
        return ", ".join(p.strip() for p in out_parts), defaults

    def rename_column(self, table: str, old: str, new: str) -> None:
        """RENAME COLUMN as an O(1) metadata move (Delta's column
        mapping, name mode): the column's PHYSICAL (in-file) name never
        changes — only the logical side of the table's column map does
        — so no data object is rewritten, old files keep reading
        correctly, and time travel to pre-rename versions shows the old
        name. Declarations (primary keys, blooms, clustering, bucket
        spec) follow the rename atomically in the same authoritative
        metadata record. A CHECK constraint referencing the column
        blocks the rename (its SQL text cannot be rewritten safely —
        drop the constraint first; Delta makes the same call)."""
        tx = self._require_tx()
        schema = self.table_schema(table)
        names = [f.name for f in schema.fields]
        if old not in names:
            raise TableNotFoundError(f"no such column: {old}")
        if new in names:
            raise TypeMismatchError(f"column already exists: {new}")
        if (
            not new
            or new in _RESERVED_COLS
            or not str(new).replace("_", "").isalnum()
            or new[0].isdigit()
        ):
            raise TypeMismatchError(f"invalid or reserved column name {new!r}")
        snap = self._effective_snapshot(tx)
        checks = dict(snap.checks.get(table, {}))
        for cname in sorted(checks):
            if self._expr_references(schema, checks[cname], old):
                raise TypeMismatchError(
                    f"cannot rename {old!r}: CHECK constraint {cname!r}"
                    f" references it ({checks[cname]}) - drop the"
                    " constraint first"
                )
        cur_map = snap.col_maps.get(table, {})
        cmap = {
            (new if f.name == old else f.name): cur_map.get(f.name, f.name)
            for f in schema.fields
        }
        new_fields = [
            T.StructField(new if f.name == old else f.name, f.dataType, f.nullable)
            for f in schema.fields
        ]
        ddl = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in new_fields
        )

        def _ren(c: str) -> str:
            return new if c == old else c

        spec = snap.bucket_specs.get(table)
        tx.new_tables[table] = ddl
        tx.actions.append(
            self._authoritative_metadata(
                snap,
                table,
                ddl,
                primary_keys=[_ren(c) for c in snap.pkeys.get(table, [])],
                bloom_columns=[_ren(c) for c in snap.bloom_cols.get(table, [])],
                cluster_by=[_ren(c) for c in snap.cluster_cols.get(table, [])],
                bucket_by=[_ren(c) for c in spec["cols"]] if spec else [],
                column_map=cmap,
                col_defaults={
                    _ren(c): dict(v)
                    for c, v in snap.defaults.get(table, {}).items()
                },
                identity={
                    _ren(c): dict(v)
                    for c, v in snap.identity.get(table, {}).items()
                },
            )
        )
        # ids already minted THIS tx follow the rename: the pending
        # high-water advance is keyed by column name, and leaving it
        # under the old name would silently drop the advance at commit
        # (duplicate ids from the next tx — review catch, r11)
        if (table, old) in tx.identity_hwm:
            tx.identity_hwm[(table, new)] = tx.identity_hwm.pop((table, old))
        if (table, old) in self._ident_blocks:
            # RESERVED blocks follow the rename too: left under the old
            # name they would silently strand (consumption keys on the
            # current column name), wasting a durably committed advance
            # (review catch). If this tx later aborts, the migrated key
            # goes stale and the block is wasted — an in-contract gap,
            # same as a crashed client's remainder.
            self._ident_blocks[(table, new)] = self._ident_blocks.pop(
                (table, old)
            )

    def drop_column(self, table: str, column: str) -> None:
        """DROP COLUMN as an O(1) metadata move: the physical column
        stays in existing files (scans simply stop reading it) and its
        physical name is RETIRED so a later ``add_columns`` with the
        same logical name maps to a fresh physical name — dropped data
        can never resurrect. Blocked while the column is part of any
        declaration (primary key, bloom, cluster, bucket) or referenced
        by a CHECK constraint. Buffered unflushed rows lose the value
        at the dropped position in-place."""
        tx = self._require_tx()
        schema = self.table_schema(table)
        names = [f.name for f in schema.fields]
        if column not in names:
            raise TableNotFoundError(f"no such column: {column}")
        if len(names) == 1:
            raise TypeMismatchError("cannot drop a table's only column")
        snap = self._effective_snapshot(tx)
        spec = snap.bucket_specs.get(table)
        for label, cols in (
            ("primary key", snap.pkeys.get(table, [])),
            ("bloom", snap.bloom_cols.get(table, [])),
            ("cluster", snap.cluster_cols.get(table, [])),
            ("bucket", list(spec["cols"]) if spec else []),
            ("identity", list(snap.identity.get(table, {}))),
        ):
            if column in cols:
                raise TypeMismatchError(
                    f"cannot drop {column!r}: it is a declared {label}"
                    " column - clear the declaration first"
                )
        checks = dict(snap.checks.get(table, {}))
        for cname in sorted(checks):
            if self._expr_references(schema, checks[cname], column):
                raise TypeMismatchError(
                    f"cannot drop {column!r}: CHECK constraint {cname!r}"
                    f" references it ({checks[cname]}) - drop the"
                    " constraint first"
                )
        cur_map = snap.col_maps.get(table, {})
        phys = cur_map.get(column, column)
        cmap = {
            f.name: cur_map.get(f.name, f.name)
            for f in schema.fields
            if f.name != column
        }
        retired = list(snap.retired.get(table, [])) + [phys]
        new_fields = [f for f in schema.fields if f.name != column]
        ddl = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in new_fields
        )
        pos = self._col_pos(schema, column)
        for i, (idx, row) in enumerate(tx.buffers.get(table, [])):
            if row is not None:
                r = list(row)
                del r[pos]
                tx.buffers[table][i] = (idx, r)
        tx.new_tables[table] = ddl
        tx.actions.append(
            self._authoritative_metadata(
                snap,
                table,
                ddl,
                column_map=cmap,
                retired_phys=retired,
                col_defaults={
                    c: dict(v)
                    for c, v in snap.defaults.get(table, {}).items()
                    if c != column
                },
            )
        )

    # Type widening (Delta's typeWidening, simplified to the promotions
    # Spark's vectorized Parquet reader performs natively when the read
    # schema is wider than the file's physical type — verified against
    # PySpark 4.1: int32->bigint/double, int32->decimal, float->double).
    # Lossy or representation-changing moves (long->double, int->float,
    # ->decimal with scale, temporal changes) are deliberately excluded:
    # every admitted pair is exactly value-preserving, so stats, blooms
    # (value-tagged, width-independent) and CHECK semantics all carry
    # over untouched.
    _WIDENINGS: dict[str, tuple] = {
        "tinyint": ("smallint", "int", "bigint", "double"),
        "smallint": ("int", "bigint", "double"),
        "int": ("bigint", "double"),
        "float": ("double",),
    }

    def widen_column(self, table: str, column: str, new_type: str) -> None:
        """ALTER COLUMN TYPE as an O(1) metadata move: only the table's
        logical DDL changes — no data object is rewritten. Old files
        keep their narrow physical type; scans read them under the
        widened schema (Spark's Parquet reader performs the integer /
        float upcasts natively), new writes land physically wide, and
        the two coexist because every admitted promotion is exactly
        value-preserving. Time travel to pre-widen versions reads the
        narrow schema over all-narrow files; RESTORE rolls the type
        back together with the file set (post-widen wide files retire
        with their versions, so a narrow schema never reads wide
        files). BUCKET columns are blocked: murmur3 hashes the binary
        width (murmur3(int) != murmur3(bigint) for equal values), so
        widening one would silently break the co-location contract —
        the one rewrite-requiring evolution, surfaced loudly."""
        tx = self._require_tx()
        schema = self.table_schema(table)
        names = [f.name for f in schema.fields]
        if column not in names:
            raise TableNotFoundError(f"no such column: {column}")
        cur = schema[column].dataType
        tgt = self._parse_ddl(f"x {new_type}")[0].dataType
        allowed = self._WIDENINGS.get(cur.simpleString(), ())
        if tgt.simpleString() == cur.simpleString():
            raise TypeMismatchError(
                f"{column} is already {cur.simpleString()}"
            )
        if tgt.simpleString() not in allowed:
            raise TypeMismatchError(
                f"cannot widen {column}: {cur.simpleString()} ->"
                f" {tgt.simpleString()} is not a value-preserving"
                f" promotion (allowed: {list(allowed)})"
            )
        snap = self._effective_snapshot(tx)
        spec = snap.bucket_specs.get(table)
        if spec and column in spec["cols"]:
            raise TypeMismatchError(
                f"cannot widen bucket column {column!r}: the bucket"
                " layout hashes the binary width (murmur3(int) !="
                " murmur3(bigint)) - rebuild the table to re-bucket"
            )
        new_fields = [
            T.StructField(f.name, tgt if f.name == column else f.dataType, f.nullable)
            for f in schema.fields
        ]
        ddl = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in new_fields
        )
        tx.new_tables[table] = ddl
        tx.actions.append(self._authoritative_metadata(snap, table, ddl))

    @staticmethod
    def _authoritative_metadata(
        snap: Snapshot, table: str, schema_ddl: str, **overrides
    ) -> ChangeMetadata:
        """An authoritative ChangeMetadata carrying EVERY current
        per-table declaration. Authoritative records REPLACE the
        table's declarations wholesale, so any emitter that forgot one
        map would silently CLEAR it on replay — every emitter funnels
        here and overrides only what its operation changes; a
        declaration added to ``plans.actions.DECLARATIONS`` is then
        carried by all of them automatically."""
        return ChangeMetadata(
            table=table,
            schema_ddl=schema_ddl,
            authoritative=True,
            **{**snap.declarations(table), **overrides},
        )

    def _expr_references(
        self, schema: T.StructType, expr: str, column: str
    ) -> bool:
        """True when a SQL expression references ``column``: it fails
        to analyze against the schema with the column removed (the
        same probe trick as _validate_checks, inverted)."""
        reduced = T.StructType([f for f in schema.fields if f.name != column])
        probe = self.spark.createDataFrame([], reduced)
        try:
            probe.filter(F.expr(str(expr))).schema
            return False
        except Exception:
            return True

    def alter_table(
        self,
        table: str,
        primary_keys: Optional[list[str]] = None,
        bloom_columns: Optional[list[str]] = None,
        cluster_by: Optional[list[str]] = None,
        checks: Optional[dict[str, str]] = None,
    ) -> None:
        """Change the table's declared primary keys / bloom columns /
        clustering / CHECK constraints without touching data. ``None``
        keeps the current declaration, ``[]`` (or ``{}`` for checks)
        clears it. New declarations govern FUTURE writes — existing
        objects keep their stats and blooms; run ``compact()`` to
        rewrite them under the new layout/blooms. ADDING or changing a
        CHECK validates EXISTING rows first (one scan, Delta's ADD
        CONSTRAINT semantics) so the constraint is an invariant of the
        whole table, not just of future files."""
        tx = self._require_tx()
        schema = self.table_schema(table)  # raises for unknown tables
        snap = self._effective_snapshot(tx)
        names = {f.name for f in schema.fields}
        new_pk = list(snap.pkeys.get(table, []) if primary_keys is None else primary_keys)
        new_bloom = list(
            snap.bloom_cols.get(table, []) if bloom_columns is None else bloom_columns
        )
        new_cluster = list(
            snap.cluster_cols.get(table, []) if cluster_by is None else cluster_by
        )
        for label, colset in (
            ("primary key", new_pk),
            ("bloom", new_bloom),
            ("cluster", new_cluster),
        ):
            missing = set(colset) - names
            if missing:
                raise TypeMismatchError(f"{label} columns not in schema: {sorted(missing)}")
        cur_checks = dict(snap.checks.get(table, {}))
        new_checks = cur_checks if checks is None else dict(checks)
        if checks is not None:
            self._validate_checks(schema, new_checks)
            added = {
                n: e
                for n, e in new_checks.items()
                if cur_checks.get(n) != e
            }
            if added:
                cur = self.scan(table, with_stamps=False)
                cond = None
                for n in sorted(added):
                    c_ = ~F.coalesce(F.expr(added[n]), F.lit(False))
                    cond = c_ if cond is None else (cond | c_)
                bad = cur.filter(cond).count()
                if bad:
                    raise TypeMismatchError(
                        f"cannot add CHECK constraint(s) {sorted(added)}:"
                        f" {bad} existing row(s) violate them"
                    )
        ddl = tx.new_tables.get(table) or tx.snapshot.tables.get(table)
        # bucketing is create-time-only: the authoritative record must
        # CARRY the current spec, or this alter would silently clear it
        spec = snap.bucket_specs.get(table)
        if spec is not None and set(new_cluster):
            raise TypeMismatchError(
                "cannot cluster a bucketed table - bucket_by and"
                " cluster_by are mutually exclusive"
            )
        tx.actions.append(
            self._authoritative_metadata(
                snap,
                table,
                ddl,
                primary_keys=new_pk,
                bloom_columns=new_bloom,
                cluster_by=new_cluster,
                checks=new_checks,
            )
        )

    def set_not_null(self, table: str, column: str) -> None:
        """Declare ``column`` NOT NULL (Delta's ALTER COLUMN ... SET
        NOT NULL): lowers onto the CHECK lane (constraint
        ``<column>_not_null``), so declaration validates EXISTING rows
        in one scan and every write path enforces it in-plan with the
        same raise. BLOCKED on columns carrying a stamp-gated DEFAULT:
        their stored pre-birth rows are physically NULL even though
        reads substitute the default — a "NOT NULL" table whose raw
        files hold NULLs would be ambiguous to external readers and to
        any future default change; ``materialize_table`` first bakes
        the default in, then the declaration is unambiguous."""
        tx = self._require_tx()
        schema = self.table_schema(table)
        if column not in {f.name for f in schema.fields}:
            raise TypeMismatchError(f"no such column {column!r} in {table!r}")
        snap = self._effective_snapshot(tx)
        if column in snap.defaults.get(table, {}):
            raise TypeMismatchError(
                f"cannot declare {column!r} NOT NULL: its stamp-gated"
                " DEFAULT substitutes NULLs at read time, so stored rows"
                " may be physically NULL - materialize_table() first to"
                " bake the default into the rows"
            )
        checks = dict(snap.checks.get(table, {}))
        name, expr = f"{column}_not_null", f"{column} IS NOT NULL"
        if checks.get(name, expr) != expr:
            raise TypeMismatchError(
                f"CHECK constraint name {name!r} is taken by a user"
                f" constraint with a different expression"
                f" ({checks[name]!r}) - rename it first"
            )
        checks[name] = expr
        self.alter_table(table, checks=checks)

    def add_constraint(self, table: str, name: str, expr: str) -> None:
        """ALTER TABLE ... ADD CONSTRAINT name CHECK (expr) — Delta's
        post-create constraint verb. Rides :meth:`alter_table`'s CHECK
        lane verbatim: the expression is analyzed against the schema
        NOW, EXISTING rows are validated in one scan (a violating row
        fails the declaration, so the constraint is an invariant of
        the whole table), and every future write path enforces it with
        the same in-plan raise the create-time checks use. Refuses to
        redefine an existing name — drop it first; a silent
        redefinition would change write semantics under concurrent
        writers that read the old expression."""
        tx = self._require_tx()
        checks = dict(self._effective_snapshot(tx).checks.get(table, {}))
        if name in checks:
            raise TypeMismatchError(
                f"CHECK constraint {name!r} already exists on {table!r}"
                f" ({checks[name]!r}) - DROP CONSTRAINT first"
            )
        checks[name] = expr
        self.alter_table(table, checks=checks)

    def drop_constraint(self, table: str, name: str) -> None:
        """ALTER TABLE ... DROP CONSTRAINT name — remove one named
        CHECK (a NOT NULL declaration's reserved ``<col>_not_null``
        name included: it IS the constraint; the ALTER COLUMN spelling
        remains for symmetry). Unknown names fail loudly — a typo'd
        drop that silently succeeds would leave the writer believing
        enforcement stopped."""
        tx = self._require_tx()
        snap = self._effective_snapshot(tx)
        checks = dict(snap.checks.get(table, {}))
        if name not in checks:
            raise TypeMismatchError(
                f"no CHECK constraint {name!r} on {table!r}"
                f" (declared: {sorted(checks) or 'none'})"
            )
        for col, gexpr in snap.generated.get(table, {}).items():
            # a GENERATED column's implicit <col>_generated check IS
            # the supplied-value validation of the declaration —
            # dropping it while the declaration persists would silently
            # admit wrong supplied values on every future write (review
            # catch, r14; create_table reserves the name for the same
            # reason)
            if name == f"{col}_generated":
                raise TypeMismatchError(
                    f"constraint {name!r} is the implicit validation of"
                    f" the GENERATED declaration on {col!r}"
                    f" ({gexpr!r}) - it cannot be dropped while the"
                    " declaration stands"
                )
        checks.pop(name)
        self.alter_table(table, checks=checks)

    def drop_not_null(self, table: str, column: str) -> None:
        """Remove a NOT NULL declaration (the named check). Refuses to
        drop a user CHECK that merely took the reserved name."""
        tx = self._require_tx()
        snap = self._effective_snapshot(tx)
        checks = dict(snap.checks.get(table, {}))
        name = f"{column}_not_null"
        if name not in checks:
            raise TypeMismatchError(f"{column!r} is not declared NOT NULL")
        if checks[name] != f"{column} IS NOT NULL":
            raise TypeMismatchError(
                f"constraint {name!r} is a user CHECK"
                f" ({checks[name]!r}), not a NOT NULL declaration - use"
                " alter_table(checks=...) to change it"
            )
        checks.pop(name)
        self.alter_table(table, checks=checks)

    def _validate_checks(
        self, schema: T.StructType, checks: dict[str, str]
    ) -> dict[str, str]:
        """Parse every CHECK expression against the schema NOW (a typo
        must fail at declaration, not at first write) and reject names
        that cannot round-trip the log."""
        out: dict[str, str] = {}
        for name, expr in checks.items():
            if not name or not str(name).replace("_", "").isalnum():
                raise TypeMismatchError(
                    f"invalid CHECK constraint name {name!r}"
                )
            probe = self.spark.createDataFrame([], schema)
            try:
                probe.filter(F.expr(str(expr))).schema
            except Exception as e:
                raise TypeMismatchError(
                    f"CHECK constraint {name!r} does not analyze against"
                    f" the schema: {expr!r} ({e})"
                )
            out[str(name)] = str(expr)
        return out

    def table_schema(self, table: str) -> T.StructType:
        """User-visible schema (without engine stamp columns)."""
        tx = self._require_tx()
        ddl = tx.new_tables.get(table) or tx.snapshot.tables.get(table)
        if ddl is None:
            raise TableNotFoundError(table)
        return self._parse_ddl(ddl)

    # ------------------------------------------------------------------
    # writes
    # ------------------------------------------------------------------

    def write_row(self, table: str, row: list[Any]) -> None:
        """Buffer one row; auto-flush a Parquet object when the buffer
        reaches ``dataobject_size`` (reference writes.go:49-52).

        IDENTITY columns are positional like every other column: pass
        ``None`` and the value is minted here, in insertion order, from
        the transaction-local continuation of the table's high-water
        mark; passing a value is an error (GENERATED ALWAYS)."""
        tx = self._require_tx()
        schema = self.table_schema(table)
        if len(row) != len(schema.fields):
            raise TypeMismatchError(
                f"row has {len(row)} values, table {table!r} has {len(schema.fields)} columns"
            )
        ident = self._identity_spec(tx, table)
        if ident:
            row = list(row)
            pos = {f.name: i for i, f in enumerate(schema.fields)}
            for icol, ispec in ident.items():
                i = pos[icol]
                if row[i] is not None:
                    if ispec.get("mode", "always") == "default":
                        continue  # BY DEFAULT: supplied values stand
                    raise TypeMismatchError(
                        f"IDENTITY column {icol!r} is GENERATED ALWAYS -"
                        " pass None and the engine mints the value"
                    )
                row[i] = self._alloc_identity(tx, table, icol, ispec, 1)
        buf = tx.buffers.setdefault(table, [])
        idx = tx.next_idx.get(table, 0)
        tx.next_idx[table] = idx + 1
        buf.append((idx, list(row)))
        if len(buf) >= self.dataobject_size:
            self._flush_buffer(table)

    def write_dataframe(
        self, table: str, df: DataFrame, merge_schema: bool = False
    ) -> None:
        """Bulk distributed ingest: executors write Parquet directly;
        the driver registers the resulting files in the log.

        This is the 100 TB write path the reference lacks — rows never
        pass through the driver.

        ``merge_schema=True`` is Delta's mergeSchema-on-write: columns
        the table lacks are appended to its schema in this transaction
        (nullable — old objects read them as NULL), table columns the
        frame lacks are null-filled instead of rejected, and a frame
        column arriving WIDER than the table's type auto-widens the
        table when the promotion is value-preserving (the
        ``widen_column`` matrix; schema drift across crawl dumps —
        int ids that outgrow int32 — then evolves the table instead of
        failing the cast or truncating). BUCKET columns are the one
        exception: their width is pinned by the hash layout, so they
        keep the plain cast behavior — in-range values ingest exactly
        as before, out-of-range values fail the ANSI cast loudly. With
        the default False, a frame missing table columns is an error
        and unknown frame columns are dropped by the projection.
        """
        tx = self._require_tx()
        if merge_schema:
            schema = self.table_schema(table)
            known = {f.name for f in schema.fields}
            extra = [f for f in df.schema.fields if f.name not in known]
            if any(f.name in (TX_COL, IDX_COL) for f in extra):
                raise TypeMismatchError(f"reserved column names: {TX_COL}, {IDX_COL}")
            if extra:
                self.add_columns(
                    table,
                    ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in extra),
                )
            in_types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
            spec0 = self._effective_snapshot(tx).bucket_specs.get(table)
            frozen = set(spec0["cols"]) if spec0 else set()
            for f in schema.fields:
                incoming = in_types.get(f.name)
                if (
                    incoming is not None
                    and f.name not in frozen  # bucket cols can't widen:
                    # the cast-then-hash path still handles in-range
                    # values exactly as before
                    and incoming != f.dataType.simpleString()
                    and incoming in self._WIDENINGS.get(f.dataType.simpleString(), ())
                ):
                    self.widen_column(table, f.name, incoming)
            schema = self.table_schema(table)
            snap_ms = self._effective_snapshot(tx)
            gen_skip = set(snap_ms.generated.get(table, {})) | set(
                snap_ms.identity.get(table, {})
            )
            for f in schema.fields:
                # omitted GENERATED/IDENTITY columns must stay absent
                # here so the fill below computes/mints them — a
                # NULL-fill would read as a supplied (wrong) value and
                # fail the implicit CHECK / the ALWAYS gate
                # (review catch, r10)
                if f.name not in df.columns and f.name not in gen_skip:
                    df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
        schema = self.table_schema(table)
        cols = [f.name for f in schema.fields]
        snap = self._effective_snapshot(tx)
        # GENERATED columns: computed when the writer omits them
        # (Delta's GENERATED ALWAYS AS); supplied values are validated
        # by the implicit CHECK in the staging funnel instead
        for gcol, gexpr in snap.generated.get(table, {}).items():
            if gcol not in df.columns:
                df = df.withColumn(gcol, F.expr(gexpr))
        # IDENTITY columns: the frame must OMIT them (GENERATED ALWAYS
        # accepts no supplied values); a NULL placeholder keeps the
        # missing-columns gate happy and the real values are minted
        # below off the _row_idx stamps (one expression, no extra job)
        ident = dict(snap.identity.get(table, {}))
        ident_pending: dict[str, tuple[int, int]] = {}
        ident_coalesce: set[str] = set()
        for icol, ispec in list(ident.items()):
            if icol in df.columns:
                if ispec.get("mode", "always") == "default":
                    # BY DEFAULT: supplied values stand verbatim (run
                    # ALTER ... SYNC IDENTITY afterwards to lift the
                    # mark past them — Delta's contract), and NULL
                    # cells still MINT (same semantics as write_row's
                    # None; a verbatim NULL would be a silent hole no
                    # sync could ever repair — review catch, r11 p3)
                    ident_coalesce.add(icol)
                    continue
                raise TypeMismatchError(
                    f"IDENTITY column {icol!r} is GENERATED ALWAYS -"
                    " omit it from the frame and the engine mints the"
                    " values"
                )
            df = df.withColumn(icol, F.lit(None).cast("bigint"))
        missing = set(cols) - set(df.columns)
        if missing:
            raise TypeMismatchError(f"dataframe missing columns {sorted(missing)}")
        base = tx.next_idx.get(table, 0)
        cluster = snap.cluster_cols.get(table)
        if cluster:
            # declared layout: each output file covers a tight range of
            # the cluster columns -> stats pruning == partition pruning
            df = df.repartitionByRange(*[F.col(c) for c in cluster])
            df = df.sortWithinPartitions(*cluster)
        stamped = df.select(
            *[F.col(c).cast(schema[c].dataType).alias(c) for c in cols],
            F.lit(tx.id).cast("long").alias(TX_COL),
            (F.monotonically_increasing_id() + F.lit(base)).alias(IDX_COL),
        )
        for icol, ispec in ident.items():
            # mint off the SAME _row_idx stamp expression: unique per
            # row by the stamp-uniqueness invariant, exact high-water
            # accounting from the staged footers' max stamp, and gaps
            # (the stamp's partition bits) are in-contract for identity
            high0 = tx.identity_hwm.get((table, icol))
            if high0 is None:
                high0 = int(
                    ispec.get("high", int(ispec["start"]) - int(ispec["step"]))
                )
            step = int(ispec["step"])
            ident_pending[icol] = (high0, step)
            minted = (
                F.lit(high0)
                + F.lit(step) * (F.col(IDX_COL) - F.lit(base) + F.lit(1))
            ).cast("long")
            if icol in ident_coalesce:
                # BY DEFAULT with a supplied column: keep non-NULL
                # values, mint the NULL cells — and PROBE the staged
                # files for which cells actually minted, so the
                # high-water advance is gated on minted cells (a
                # supplied-only write must leave the mark untouched
                # and not conflict with concurrent allocators) and
                # sized by the furthest minted stamp, not the frame's
                # full span
                tx.ident_probe.setdefault(table, {})[icol] = (
                    high0, step, base,
                )
                stamped = stamped.withColumn(
                    icol, F.coalesce(F.col(icol).cast("long"), minted)
                )
            else:
                stamped = stamped.withColumn(icol, minted)
        if not cluster:
            # declared hash layout: partition i holds exactly bucket-i
            # rows (repartition's HashPartitioning IS Spark's bucket id
            # expression), and _register_staging labels each staged
            # file with its partition index. Bucketize AFTER the cast
            # to the table schema: murmur3 hashes int and bigint
            # differently, so hashing the caller's pre-coercion types
            # would place coerced ingests in different buckets than
            # every later rewrite of the stored values (review catch —
            # a silent wrong-join at the first COW rewrite otherwise).
            stamped = self._bucketize(tx, table, stamped)
        else:
            # clustered tables skip the bucket funnel, but NOT the
            # CHECK enforcement that lives in it (regression: a
            # clustered checked table's bulk ingest silently admitted
            # violating rows). The wrap is a narrow projection, so the
            # per-partition cluster sort is preserved.
            stamped = self._enforce_checks(tx, table, stamped)
        begin_remote = getattr(self.store, "begin_remote_staging", None)
        if begin_remote is not None:
            # Remote stores (S3): executors write Parquet into in-bucket
            # staging, the driver publishes via server-side copy — no
            # data bytes ever transit the driver.
            self._write_dataframe_remote(
                table, tx, self._to_physical(tx, table, stamped, snap), base, begin_remote()
            )
            self._advance_identity(tx, table, ident_pending, base)
            return
        # Advance next_idx past the LARGEST stamp actually written (read
        # from the staged Parquet footers or the distributed stats pass,
        # never the data): a fixed stride would collide once
        # monotonically_increasing_id's partition-id bits (bits 33+)
        # exceed it — at >= 512 partitions for a 2^42 stride — silently
        # breaking newest-first ordering for the next bulk write in the
        # same tx. The derived maxima are exact at ANY partition count,
        # including AQE skew-splits above the planned count.
        max_idx = self._publish_staged(tx, table, stamped, snap)
        tx.next_idx[table] = (max_idx if max_idx is not None else base - 1) + 1
        self._advance_identity(tx, table, ident_pending, base)

    def _write_dataframe_remote(
        self, table: str, tx: _Tx, stamped: DataFrame, base: int, rs
    ) -> None:
        """Bulk ingest against a remote (S3-style) store: Spark writes
        the stamped frame into the store's staging area (executor →
        bucket, via the cluster's S3A connector), per-file stats/blooms
        come from ONE distributed aggregation over the staged files, and
        each file is published with a server-side copy. The only driver
        traffic is metadata: key names, footer-sized stats rows, bloom
        bitsets."""
        self._write_parquet_staging(stamped, rs.uri)
        try:
            staged = rs.list_staged()
            if not staged:
                return
            sizes = getattr(rs, "staged_sizes", dict)() or {}
            stats_by_file, blooms_by_file, max_idx = self._staged_stats_distributed(
                table, tx, rs.uri
            )
            bucketed = self._bucket_spec(tx, table) is not None
            for skey in staged:
                fname = skey.rsplit("/", 1)[-1]
                st = stats_by_file.get(fname)
                if st is None or st["num_rows"] == 0:
                    continue  # empty partition file — never logged
                dest = f"table_{table}_{uuid.uuid4().hex}.parquet"
                rs.publish(skey, dest)
                tx.actions.append(
                    AddDataObject(
                        name=dest,
                        table=table,
                        tx_id=tx.id,
                        num_rows=st["num_rows"],
                        size=int(sizes.get(skey, 0)),
                        stats=st["stats"],
                        blooms=self._maybe_sidecar_blooms(
                            blooms_by_file.get(fname, {})
                        ),
                        bucket_id=_staged_bucket_id(fname) if bucketed else None,
                    )
                )
            if max_idx is not None:
                tx.next_idx[table] = max_idx + 1
        finally:
            rs.discard()

    def _staged_stats_distributed(
        self, table: str, tx: _Tx, uri: str
    ) -> tuple[dict, dict, Optional[int]]:
        """(per-file {num_rows, stats}, per-file blooms, max _row_idx)
        for a staged directory — the distributed equivalent of the
        driver-side footer pass, grouped on the ``_metadata`` file name
        so stats rows (not data) are all that reaches the driver.

        Staged files carry PHYSICAL column names (column mapping), so
        the read schema, the stats keys, and the bloom keys here are
        all physical — matching what the prune path probes."""
        snap = self._effective_snapshot(tx)
        pmap = self._rename_map(snap, table)
        stored = self._phys_schema(
            self._stored_schema(self.table_schema(table)), pmap
        )
        df = self.spark.read.schema(stored).parquet(uri)
        integral = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
        prunable = [
            f.name
            for f in stored.fields
            if f.name not in (TX_COL, IDX_COL)
            and isinstance(
                f.dataType,
                integral
                + (
                    T.FloatType,
                    T.DoubleType,
                    T.StringType,
                    T.TimestampType,
                    T.DateType,
                ),
            )
        ]
        aggs = [
            F.count(F.lit(1)).alias("__n"),
            F.max(F.col(IDX_COL)).alias("__maxidx"),
        ]
        for c in prunable:
            aggs.append(F.min(c).alias(f"__min_{c}"))
            aggs.append(F.max(c).alias(f"__max_{c}"))
        # identity mint probe (BY DEFAULT columns that arrived with
        # supplied values): a cell was MINTED iff it equals the mint
        # formula at its own _row_idx stamp — a supplied value that
        # coincides only over-counts, which over-reserves (in-contract
        # gaps), never under-advances. Rides the same aggregation pass:
        # zero extra jobs.
        probe = tx.ident_probe.get(table, {})
        for icol, (high0, istep, ibase) in probe.items():
            pc = pmap.get(icol, icol)
            is_minted = F.col(pc).cast("long") == (
                F.lit(high0)
                + F.lit(istep) * (F.col(IDX_COL) - F.lit(ibase) + F.lit(1))
            ).cast("long")
            aggs.append(
                F.sum(F.when(is_minted, 1).otherwise(0)).alias(f"__mintn_{icol}")
            )
            aggs.append(
                F.max(F.when(is_minted, F.col(IDX_COL))).alias(f"__minti_{icol}")
            )
        rows = (
            df.groupBy(F.col("_metadata.file_name").alias("__f")).agg(*aggs).collect()
        )
        for icol in probe:
            n = sum(int(r[f"__mintn_{icol}"] or 0) for r in rows)
            mx = max(
                (
                    r[f"__minti_{icol}"]
                    for r in rows
                    if r[f"__minti_{icol}"] is not None
                ),
                default=None,
            )
            tx.ident_minted[(table, icol)] = (n, mx)
        stats_by_file: dict[str, dict] = {}
        max_idx: Optional[int] = None
        for r in rows:
            st = {}
            for c in prunable:
                mn, mx = _encode_stat(r[f"__min_{c}"]), _encode_stat(r[f"__max_{c}"])
                if mn is not None and mx is not None:
                    st[c] = [mn, mx]
            stats_by_file[r["__f"]] = {"num_rows": r["__n"], "stats": st}
            if r["__maxidx"] is not None:
                max_idx = (
                    r["__maxidx"] if max_idx is None else max(max_idx, r["__maxidx"])
                )

        blooms_by_file: dict[str, dict] = {}
        names = {f.name: f.dataType for f in stored.fields}
        # declared bloom columns are LOGICAL names — translate to the
        # physical names the staged files (and `stored` here) carry
        bloom_cols = [
            c
            for c in (
                pmap.get(b, b) for b in snap.bloom_cols.get(table, [])
            )
            if c in names and isinstance(names[c], integral + (T.StringType,))
        ]
        if bloom_cols:
            is_str = {c: isinstance(names[c], T.StringType) for c in bloom_cols}

            def _build(pdf):
                import json as _json

                import pandas as _pd

                from delta_lake_experiment_spark.plans.bloom import build_column_blooms

                cols = {}
                for c in bloom_cols:
                    # integral columns arrive as decimal strings (cast
                    # Spark-side): Arrow->pandas turns a nullable int64
                    # column into float64, and int(float) silently
                    # rounds |v| > 2^53 — a bloom FALSE NEGATIVE that
                    # wrongly prunes files. int(str) is exact.
                    vals = [
                        (str(v) if is_str[c] else int(v))
                        for v in pdf[c]
                        if not _pd.isna(v)
                    ]
                    cols[c] = vals
                built = build_column_blooms(cols, bloom_cols)
                return _pd.DataFrame(
                    [
                        {"f": pdf["__f"].iloc[0], "col": c, "bloom": _json.dumps(b)}
                        for c, b in built.items()
                    ],
                    columns=["f", "col", "bloom"],
                )

            brows = (
                df.select(
                    F.col("_metadata.file_name").alias("__f"),
                    *[
                        F.col(c) if is_str[c] else F.col(c).cast("string").alias(c)
                        for c in bloom_cols
                    ],
                )
                .groupBy("__f")
                .applyInPandas(_build, "f string, col string, bloom string")
                .collect()
            )
            for r in brows:
                blooms_by_file.setdefault(r["f"], {})[r["col"]] = json.loads(r["bloom"])
        return stats_by_file, blooms_by_file, max_idx

    # ------------------------------------------------------------------
    # reads
    # ------------------------------------------------------------------

    def _bucket_prune_ids(
        self,
        table: str,
        snap: Snapshot,
        prune: Optional[dict[str, tuple[Any, Any]]],
    ) -> "Optional[set[int]]":
        """Bucket ids a pruned read can possibly touch, or None when
        bucket pruning does not apply. Applies when the table is
        bucketed and ``prune`` pins EVERY bucket column to a point
        (``lo == hi``): the key's rows can only live in
        ``pmod(murmur3(key), n)`` — computed driver-side by the
        JVM-certified pure-Python murmur3 (plans/bucketing.py), zero
        Spark work. The hash runs on the STORED column types (the
        write path hashes after casting — same contract). Unsupported
        types return None: skipping the optimization is always safe,
        guessing never is."""
        if not prune:
            return None
        spec = snap.bucket_specs.get(table)
        if not spec:
            return None
        cols = list(spec["cols"])
        if not all(
            c in prune
            and prune[c][0] is not None
            and prune[c][0] == prune[c][1]
            for c in cols
        ):
            return None
        from delta_lake_experiment_spark.plans.bucketing import bucket_id_for

        schema = self.table_schema(table)
        types = {f.name: f.dataType.simpleString() for f in schema.fields}
        bid = bucket_id_for(
            [prune[c][0] for c in cols],
            [types[c] for c in cols],
            int(spec["n"]),
        )
        return None if bid is None else {bid}

    def _record_read_scope(
        self,
        tx: "_Tx",
        table: str,
        phys_bounds: Optional[dict[str, tuple[Any, Any]]],
        keep_buckets: "Optional[set[int]]",
    ) -> None:
        """Record the PREDICATE a planned read on ``table`` depended on
        (physical-name bounds + exact bucket-id set), independent of how
        many files stats pruning left — the read-scope side of the
        commit-time conflict check (see _Tx.read_scopes). An unbounded
        read collapses the table's scope list to the one ``all`` scope;
        duplicate scopes (merge retry loops, repeated scans) dedupe."""
        if phys_bounds is None and keep_buckets is None:
            tx.read_scopes[table] = [{"all": True}]
            return
        scopes = tx.read_scopes.setdefault(table, [])
        if scopes and scopes[0].get("all"):
            return  # already unbounded — nothing finer to add
        scope = {
            "bounds": dict(phys_bounds) if phys_bounds else None,
            "buckets": set(keep_buckets) if keep_buckets is not None else None,
        }
        if scope not in scopes:
            scopes.append(scope)

    def _plan_files(
        self,
        tx: "_Tx",
        table: str,
        snap: Snapshot,
        prune: Optional[dict[str, tuple[Any, Any]]],
        keep_buckets: "Optional[set[int]]" = None,
        record_scope: bool = True,
    ) -> list[str]:
        """The one read-planning step of scans, DML and selective
        compaction: the live files a read of ``table`` under the
        logical-name ``prune`` can touch. The prune goes logical ->
        physical, the point-lookup bucket cut (_bucket_prune_ids)
        composes with a caller-supplied exact ``keep_buckets`` (MERGE's
        source-key cut) by intersection, and the predicate is recorded
        as this tx's read scope BEFORE the file list is consulted: a
        read whose bounds prune to ZERO files still observed the
        absence of those rows. An empty ``prune`` records the unbounded
        scope. ``record_scope=False`` is for rewrites that carry the
        same rows (compaction), whose scope would only conflict with
        concurrent in-range inserts."""
        kb = self._bucket_prune_ids(table, snap, prune)
        if keep_buckets is not None:
            kb = keep_buckets if kb is None else (kb & keep_buckets)
        ppr = self._prune_physical(snap, table, prune)
        if record_scope:
            self._record_read_scope(tx, table, ppr or None, kb)
        return snap.live_files(table, self.store, prune=ppr, keep_buckets=kb)

    def scan(
        self,
        table: str,
        prune: Optional[dict[str, tuple[Any, Any]]] = None,
        with_stamps: bool = True,
    ) -> DataFrame:
        """All live row versions as a DataFrame (snapshot + this tx's
        buffered rows). Unordered, like any DataFrame; order explicitly
        by ``(_tx_id, _row_idx) DESC`` for the reference's
        newest-first contract. ``prune`` applies log-level min/max file
        skipping before Spark sees the file list; point lookups also
        probe per-file blooms and, on bucketed tables (all bucket
        columns pinned), the bucket labels — an exact O(live/n) cut
        computed driver-side (see _bucket_prune_ids)."""
        tx = self._require_tx()
        schema = self.table_schema(table)
        stored = self._stored_schema(schema)
        snap = self._effective_snapshot(tx)
        files = self._plan_files(tx, table, snap, prune)
        parts = []
        if files:
            parts.append(self._read_live(table, snap, stored, files, record=True))
        buf_rows = [
            list(row) + [tx.id, idx]
            for idx, row in tx.buffers.get(table, [])
            if row is not None
        ]
        if buf_rows:
            parts.append(self.spark.createDataFrame(buf_rows, stored))
        if not parts:
            df = self.spark.createDataFrame([], stored)
        else:
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p)
        return df if with_stamps else df.select(*[f.name for f in schema.fields])

    def scan_bucketed(self, table: str, with_stamps: bool = True) -> DataFrame:
        """Bucket-aware scan of a ``bucket_by`` table: the result's
        physical plan reports ``HashPartitioning(bucket_cols, n)``, so
        joins and aggregations on the bucket columns — including
        engine⋈engine joins of two tables bucketed alike — plan NO
        Exchange (pytest-asserted on the physical plan, surviving
        commit + log replay).

        How: Spark only trusts a pre-bucketed layout when it comes
        from a catalog table with a bucket spec, and it derives each
        file's bucket id from the ``_NNNNN`` file-name suffix. Every
        live data object of a bucketed table carries its bucket label
        in the log (written by the bucketized staging path), so this
        scan exposes the live objects under bucket-suffixed names in a
        storage-level :class:`BucketScanArea` — hard links on local FS,
        server-side ``CopyObject`` on S3 — O(files) metadata ops either
        way, zero data through the driver, and snapshot isolation for
        free (links/copies pin the exact file set even across a
        concurrent VACUUM) — then registers an external bucketed
        parquet table over the area. Deletion vectors apply as the same
        broadcast anti-join as :meth:`scan` (a broadcast join preserves
        the outputPartitioning, so the no-Exchange property survives
        masking).

        Constraints: the store must expose Spark-readable per-file
        names (``begin_bucket_scan_area`` returns None on the pure
        in-memory double); no unflushed buffered rows (a driver-side
        union would destroy the partitioning — ``flush_buffer`` first,
        the raise names the remedy). Each call replaces the previous
        scan registration for the table (catalog entry
        ``bktscan_<table>_<client>`` + scan area); both are dropped
        when superseded."""
        tx = self._require_tx()
        snap = self._effective_snapshot(tx)
        spec = snap.bucket_specs.get(table)
        schema = self.table_schema(table)  # raises for unknown tables
        if spec is None:
            raise TypeMismatchError(
                f"table {table!r} is not bucketed - create it with"
                " bucket_by=(cols, n) to use scan_bucketed"
            )
        if any(row is not None for _, row in tx.buffers.get(table, [])):
            raise TypeMismatchError(
                "scan_bucketed with unflushed buffered rows would break"
                " the bucket layout - call flush_buffer first"
            )
        stored = self._stored_schema(schema)
        objs = snap.live_objects(table)
        # same read-set contract as scan(): commit-time conflict
        # resolution must see what a bucketed read depended on
        tx.read_files.setdefault(table, set()).update(
            self.store.path_of(o.name) for o in objs
        )
        self._record_read_scope(tx, table, None, None)  # unbounded read
        unlabeled = [o.name for o in objs if o.bucket_id is None]
        if unlabeled:
            raise TypeMismatchError(
                f"bucketed table {table!r} has unlabeled objects"
                f" {unlabeled[:3]!r} - log corruption?"
            )
        cols, n = list(spec["cols"]), int(spec["n"])
        # replace any previous registration for this table
        prev = self._bucket_scans.pop(table, None)
        if prev is not None:
            self.spark.sql(f"DROP TABLE IF EXISTS `{prev[0]}`")
            prev[1].drop()
        if not objs:
            df = self.spark.createDataFrame([], stored)
            return df if with_stamps else df.select(*[f.name for f in schema.fields])
        area = self.store.begin_bucket_scan_area()
        if area is None:
            raise NotImplementedError(
                "scan_bucketed needs a store exposing Spark-readable"
                " per-file names (begin_bucket_scan_area returned None)"
            )
        for seq, o in enumerate(objs):
            # original: table_<table>_<hex>.parquet; link embeds the
            # hex id (DV masks key on object names — recovered below)
            hexid = o.name.rsplit("_", 1)[-1][: -len(".parquet")]
            area.link(
                o.name,
                f"part-{seq:05d}-{hexid}_{int(o.bucket_id):05d}.c000.parquet",
            )
        cat_name = f"bktscan_{table}_{self._client_id}"
        # the catalog table mirrors the FILES, which carry physical
        # names (column mapping); the result aliases back to logical
        # below — Spark's alias-aware output partitioning keeps the
        # HashPartitioning (and so the no-Exchange join) through the
        # rename projection (plan-asserted in pytest)
        pmap = self._rename_map(snap, table)
        phys_stored = self._phys_schema(stored, pmap)
        ddl = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in phys_stored.fields
        )
        bcols = ", ".join(f"`{pmap.get(c, c)}`" for c in cols)
        loc = area.uri.replace("'", "''")
        self.spark.sql(f"DROP TABLE IF EXISTS `{cat_name}`")
        self.spark.sql(
            f"CREATE TABLE `{cat_name}` ({ddl}) USING PARQUET"
            f" CLUSTERED BY ({bcols}) INTO {n} BUCKETS"
            f" LOCATION '{loc}'"
        )
        self._bucket_scans[table] = (cat_name, area)
        df = self.spark.table(cat_name)
        dv_names = snap.dv_names(table, (o.name for o in objs))
        if dv_names:
            # join key = the object's uuid4 HEX id, extracted from BOTH
            # sides (globally unique across tables). Reconstructing the
            # full object name as table_<table>_<hex> was WRONG for
            # clones: a clone's live objects keep the SOURCE's name
            # prefix, so the rebuilt key matched nothing and every
            # DV-deleted row resurrected in the clone's bucketed scan
            # (r13 review repro)
            obj_hex = F.regexp_extract(
                F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1),
                r"part-\d+-([0-9a-f]+)_\d+\.c000\.parquet",
                1,
            )
            mask = dv_fmt.mask_frame(
                self.spark,
                [self.store.path_of(x) for x in dv_names],
                key=lambda name: F.regexp_extract(name, r"_([0-9a-f]+)\.parquet$", 1),
            )
            df = dv_fmt.mask_join(
                dv_fmt.with_positions(df, obj_hex), F.broadcast(mask), "left_anti"
            ).drop(*dv_fmt.POS)
        if pmap:
            # logical aliasing LAST: the `_metadata` captures above only
            # resolve on the scan relation
            df = df.select(
                *[
                    F.col(pmap.get(f.name, f.name)).alias(f.name)
                    for f in stored.fields
                ]
            )
        df = self._apply_defaults(snap, table, df, stored)
        return df if with_stamps else df.select(*[f.name for f in schema.fields])

    def scan_iter(self, table: str) -> Iterator[tuple]:
        """Pull iterator over all versions, newest first — the exact
        contract of the reference's scanIterator (reads.go:52): unflushed
        rows first (they carry the current tx id, hence sort newest),
        then flushed rows by descending (tx, write order)."""
        schema = self.table_schema(table)
        df = self.scan(table).orderBy(F.desc(TX_COL), F.desc(IDX_COL))
        cols = [f.name for f in schema.fields]
        for row in df.select(*cols).toLocalIterator():
            yield tuple(row)

    def scan_as_of(
        self,
        table: str,
        version: Optional[int] = None,
        timestamp: Optional[Union[str, datetime.datetime]] = None,
    ) -> DataFrame:
        """Time travel: read the table exactly as of committed log
        ``version`` (ignores any open transaction's buffers/actions).
        The log makes this free: replay to the pinned version and scan
        that file list — the same mechanism that gives concurrent
        readers snapshot isolation.

        ``timestamp`` (ISO string or datetime, instead of ``version``)
        resolves to the newest commit whose recorded wall-clock is <=
        the bound — Delta's TIMESTAMP AS OF semantics."""
        if (version is None) == (timestamp is None):
            raise ValueError("scan_as_of: exactly one of version/timestamp")
        if timestamp is not None:
            version = self._version_at_timestamp(timestamp)
        snap = replay_log(self.store, as_of=version)
        ddl = snap.tables.get(table)
        if ddl is None:
            raise TableNotFoundError(f"{table} (as of v{version})")
        schema = self._parse_ddl(ddl)
        stored = self._stored_schema(schema)
        files = snap.live_files(table, self.store)
        if not files:
            return self.spark.createDataFrame([], stored)
        return self._read_live(table, snap, stored, files)

    def _version_at_timestamp(self, ts: Union[str, datetime.datetime]) -> int:
        """Newest committed version whose recorded commit wall-clock is
        <= ``ts`` (Delta's TIMESTAMP AS OF resolution). Commits from
        before timestamps were recorded count as epoch-0 (always
        eligible). Raises if the bound precedes every commit."""
        bound = ts_micros(ts)
        versions = log_versions(self.store)
        # binary search the newest record with ts <= bound: O(log n)
        # record reads, exact because recorded stamps are monotonic
        # (encode_record). Records written before monotonic stamping
        # may hold skewed clocks: best-effort there, as in Delta.
        i = bisect.bisect_right(
            versions,
            bound,
            key=lambda v: int(read_record(self.store, v).get("ts", 0)),
        )
        if i > 0:
            return versions[i - 1]
        raise TableNotFoundError(
            f"no commit at or before {ts!r} (earliest commit is newer)"
        )

    def history(
        self, table: Optional[str] = None, limit: Optional[int] = None
    ) -> DataFrame:
        """Commit history, newest-first (Delta's DESCRIBE HISTORY).

        One row per committed log record: ``version``, ``timestamp``
        (commit wall-clock; NULL for commits predating timestamp
        recording), ``operation`` (summary of the action kinds),
        ``tables`` touched, and add/remove counts. ``table`` filters to
        commits touching that table; ``limit`` caps the rows returned.

        Reads log-record *metadata* only (never data objects), scanning
        newest-first and stopping at ``limit`` — O(limit) store reads on
        a long log, not O(history). History is complete back to the
        :meth:`vacuum_log` retention horizon; reclaimed records simply
        no longer appear (Delta's DESCRIBE HISTORY contract). No open
        transaction is required: the log is immutable shared metadata,
        like :meth:`vacuum`.
        """
        _OP = {
            "add": "WRITE",
            "remove": "DELETE",
            "metadata": "ALTER",
            "dv": "DELETE",
        }
        rows = []
        for v, record in records_newest_first(self.store):
            actions = record["actions"]
            touched = sorted(
                {next(iter(a.values())).get("table", "") for a in actions}
                - {""}  # log-wide actions (protocol) name no table
            )
            if table is not None and table not in touched:
                continue
            kinds = [next(iter(a)) for a in actions]
            ops = sorted({_OP.get(k, k.upper()) for k in kinds})
            ts_us = record.get("ts")
            rows.append(
                (
                    v,
                    datetime.datetime.fromtimestamp(
                        ts_us / 1_000_000, tz=datetime.timezone.utc
                    ).replace(tzinfo=None)
                    if ts_us is not None
                    else None,
                    "+".join(ops) if ops else "EMPTY",
                    touched,
                    sum(k == "add" for k in kinds),
                    sum(k == "remove" for k in kinds),
                )
            )
            if limit is not None and len(rows) >= limit:
                break
        schema = T.StructType(
            [
                T.StructField("version", T.LongType(), False),
                T.StructField("timestamp", T.TimestampType(), True),
                T.StructField("operation", T.StringType(), False),
                T.StructField("tables", T.ArrayType(T.StringType()), False),
                T.StructField("num_added_files", T.LongType(), False),
                T.StructField("num_removed_files", T.LongType(), False),
            ]
        )
        return self.spark.createDataFrame(rows, schema)

    def table_row_count(self, table: str) -> int:
        """Exact live row count from LOG METADATA alone (Delta's
        metadata-only ``COUNT(*)``): the per-object ``num_rows`` every
        add action carries, summed over the live object set — ZERO
        data reads, no Spark job. Valid whenever nothing masks rows
        below the object granularity: deletion vectors hide rows the
        object metadata still counts, and this transaction's unflushed
        buffered rows live outside the log — both cases fall back to
        ``scan(...).count()`` so the answer is always exact (r16
        optimization round: the ingest lifecycle queries verify index
        invariants by row count; on append-only index tables this
        replaces a full scan job per check with a metadata sum)."""
        tx = self._require_tx()
        snap = self._effective_snapshot(tx)
        if table not in snap.tables:
            raise TableNotFoundError(table)
        if snap.table_dvs(table) or any(
            row is not None for _, row in tx.buffers.get(table, [])
        ):
            return self.scan(table, with_stamps=False).count()
        return int(sum(o.num_rows for o in snap.live_map(table).values()))

    def describe_detail(self, table: str) -> DataFrame:
        """One-row table metadata report (Delta's DESCRIBE DETAIL):
        live file/row/byte totals from the log's per-object metadata
        (ZERO data reads), every declaration (primary keys, blooms,
        clustering, bucket spec, CHECK names), and the
        schema-evolution state — non-identity column mappings, retired
        physical names, stamp-gated defaults. The one view that shows
        what a table's scans will actually do. Like DESCRIBE HISTORY /
        CHANGES, valid outside a transaction (the committed log is
        immutable shared metadata); inside one it reflects the tx's
        own uncommitted actions."""
        snap = (
            self._effective_snapshot(self.tx)
            if self.tx is not None
            else self._current_snapshot()[0].copy()
        )
        if table not in snap.tables:
            raise TableNotFoundError(table)
        objs = snap.live_objects(table)
        spec = snap.bucket_specs.get(table)
        # size_bytes is all-or-nothing: a PARTIAL sum presented as the
        # table total would mislead capacity/VACUUM planning (the
        # dry-run report models unknowns the same way, per-object None).
        # The LOG's per-object size stat (r10) answers without touching
        # the store; only pre-size legacy objects fall back to a
        # store.size() round-trip — at 10^6 files that is the
        # difference between a metadata lookup and 10^6 HEAD requests.
        sizes = [
            o.size if o.size > 0 else self.store.size(o.name) for o in objs
        ]
        total_bytes = (
            int(sum(sizes)) if all(s is not None for s in sizes) else None
        )
        dvs = snap.table_dvs(table)
        cmap = snap.col_maps.get(table, {})
        row = (
            table,
            int(snap.version),
            # lineage birth version (None for tables folded from
            # pre-born checkpoints): drop+recreate under one name
            # restarts it — what the change feed keys lineage breaks on
            snap.born.get(table),
            snap.tables[table],
            len(objs),
            int(sum(o.num_rows for o in objs)),
            total_bytes,
            sum(len(v) for v in dvs.values()),
            list(snap.pkeys.get(table, [])),
            list(snap.bloom_cols.get(table, [])),
            list(snap.cluster_cols.get(table, [])),
            list(spec["cols"]) if spec else [],
            int(spec["n"]) if spec else 0,
            sorted(snap.checks.get(table, {})),
            {l: p for l, p in cmap.items() if l != p},
            list(snap.retired.get(table, [])),
            {c: str(d["v"]) for c, d in snap.defaults.get(table, {}).items()},
            dict(snap.generated.get(table, {})),
            {
                c: f"START {v['start']} STEP {v['step']} HIGH {v['high']}"
                for c, v in snap.identity.get(table, {}).items()
            },
            # log-wide protocol (Delta's DESCRIBE DETAIL shows
            # minReaderVersion/minWriterVersion the same way): what a
            # client must implement to read/commit this log
            list(snap.protocol["rf"]),
            list(snap.protocol["wf"]),
        )
        schema = T.StructType(
            [
                T.StructField("table", T.StringType(), False),
                T.StructField("version", T.LongType(), False),
                T.StructField("created_version", T.LongType(), True),
                T.StructField("schema_ddl", T.StringType(), False),
                T.StructField("num_files", T.LongType(), False),
                T.StructField("num_rows", T.LongType(), False),
                T.StructField("size_bytes", T.LongType(), True),
                T.StructField("num_deletion_vectors", T.LongType(), False),
                T.StructField("primary_keys", T.ArrayType(T.StringType()), False),
                T.StructField("bloom_columns", T.ArrayType(T.StringType()), False),
                T.StructField("cluster_by", T.ArrayType(T.StringType()), False),
                T.StructField("bucket_by", T.ArrayType(T.StringType()), False),
                T.StructField("bucket_count", T.LongType(), False),
                T.StructField("check_constraints", T.ArrayType(T.StringType()), False),
                T.StructField(
                    "column_mapping",
                    T.MapType(T.StringType(), T.StringType()),
                    False,
                ),
                T.StructField("retired_columns", T.ArrayType(T.StringType()), False),
                T.StructField(
                    "column_defaults",
                    T.MapType(T.StringType(), T.StringType()),
                    False,
                ),
                T.StructField(
                    "generated_columns",
                    T.MapType(T.StringType(), T.StringType()),
                    False,
                ),
                T.StructField(
                    "identity_columns",
                    T.MapType(T.StringType(), T.StringType()),
                    False,
                ),
                T.StructField(
                    "reader_features", T.ArrayType(T.StringType()), False
                ),
                T.StructField(
                    "writer_features", T.ArrayType(T.StringType()), False
                ),
            ]
        )
        return self.spark.createDataFrame([row], schema)

    def materialize_table(self, table: str) -> int:
        """Rewrite the table into EXTERNALLY READABLE form in this tx:
        deletion vectors applied, renamed columns re-written under
        their logical names, stamp-gated DEFAULTs baked into rows —
        and, in the same atomic commit, the column mapping reset to
        identity, the retired-name list cleared (no live file carries
        a retired physical name afterwards), and the defaults cleared
        (their values are now IN the rows, same answer). This is the
        remedy ``write_manifest``'s guards name, as one call; plain
        engine reads before/after are value-identical.

        Cost is one full COW rewrite — O(table), the honest price of
        making raw files self-describing. Layout declarations are
        preserved: bucketed tables re-hash into their bucket layout,
        clustered tables re-sort into tight [min,max] slices, so
        stats/bucket pruning survive materialization. Returns the
        number of objects rewritten."""
        tx = self._require_tx()
        snap = self._effective_snapshot(tx)
        if table not in snap.tables:
            raise TableNotFoundError(table)
        schema = self.table_schema(table)
        stored = self._stored_schema(schema)
        objs = snap.live_objects(table)
        files = [self.store.path_of(o.name) for o in objs]
        # logical read: the plan bakes in the CURRENT map/defaults/DV
        # masks here, so appending the metadata reset below cannot
        # change what is read (projections are fixed at plan build)
        df = (
            self._read_live(table, snap, stored, files)
            if files
            else self.spark.createDataFrame([], stored)
        )
        # metadata reset FIRST: the staged write (and its stats/blooms)
        # must land under logical names, which _register_staging reads
        # from the tx-effective snapshot
        tx.actions.append(
            self._authoritative_metadata(
                snap,
                table,
                snap.tables[table],
                column_map={},
                retired_phys=[],
                col_defaults={},
            )
        )
        cluster_cols = snap.cluster_cols.get(table, [])
        if snap.bucket_specs.get(table) is not None:
            df = self._bucketize(tx, table, df)
        elif cluster_cols:
            cols = [F.col(c) for c in cluster_cols]
            df = df.repartitionByRange(max(1, len(files)), *cols).sortWithinPartitions(
                *cols
            )
        else:
            df = df.coalesce(max(1, len(files)))
        # no snap: the reset above makes the tx-effective rename map the
        # identity, so physical == logical from this commit on
        self._publish_staged(
            tx, table, df, rewrite=True, replaced=[o.name for o in objs]
        )
        return len(objs)

    def write_manifest(self, table: str, materialize: bool = False) -> list[str]:
        """Symlink-style manifest export (Delta's
        GENERATE symlink_format_manifest): publish the table's LIVE
        data-file paths as a versioned manifest object
        (``manifest_<table>_<version>``), so EXTERNAL engines — DuckDB,
        Trino, a plain ``read_parquet`` — can read the snapshot
        directly, with no engine library in the loop. O(files)
        metadata; the manifest pins the version it was generated at
        (later commits need a new manifest, exactly Delta's contract).

        Loud guards instead of silent corruption — external readers
        see RAW files, so every engine-level read semantic must be
        absent: deletion-vector masks (masked rows would resurrect),
        non-identity column mappings (physical names would leak),
        stamp-gated defaults (pre-birth rows would read NULL), and
        uncommitted buffered rows (not in any file yet). Tables using
        those features must materialize first or be read through the
        engine — ``materialize=True`` runs that remedy here: it calls
        :meth:`materialize_table`, COMMITS it (publication needs a
        committed version to pin), opens a fresh transaction, and
        exports — one call on any table state. Because it commits, it
        requires an otherwise-clean transaction."""
        tx = self._require_tx()
        snap = self._effective_snapshot(tx)
        if table not in snap.tables:
            raise TableNotFoundError(table)
        if materialize and (
            snap.table_dvs(table)
            or self._rename_map(snap, table)
            or snap.defaults.get(table)
        ):
            if tx.actions or any(v for v in tx.buffers.values()):
                raise TypeMismatchError(
                    "write_manifest(materialize=True) commits a rewrite -"
                    " call it on a transaction with no other pending work"
                )
            self.materialize_table(table)
            self.commit_tx()
            self.new_tx()
            tx = self.tx
            snap = self._effective_snapshot(tx)
        if snap.table_dvs(table):
            raise TypeMismatchError(
                f"cannot export a manifest for {table!r}: deletion-vector"
                " masks are engine-level (external readers would resurrect"
                " masked rows) - compact() to materialize them first"
            )
        if self._rename_map(snap, table):
            raise TypeMismatchError(
                f"cannot export a manifest for {table!r}: renamed columns"
                " keep their original PHYSICAL names in files - external"
                " readers would see the old names"
            )
        if snap.defaults.get(table):
            raise TypeMismatchError(
                f"cannot export a manifest for {table!r}: column DEFAULTs"
                " are a stamp-gated read substitution external readers"
                " cannot apply - rewrite (compact) to materialize them"
            )
        if tx.buffers.get(table) or any(
            getattr(a, "table", None) == table for a in tx.actions
        ):
            raise TypeMismatchError(
                f"cannot export a manifest for {table!r}: this"
                " transaction has uncommitted rows/actions for it — a"
                " manifest must expose only COMMITTED state (an aborted"
                " tx would leak phantom files to external readers);"
                " commit first"
            )
        # pin the COMMITTED version: the tx base snapshot, not the
        # effective one (whose version is the open tx's id)
        base = tx.snapshot
        paths = sorted(
            self.store.path_of(o.name) for o in base.live_objects(table)
        )
        name = f"manifest_{table}_{base.version:020d}"
        try:
            self.store.put_if_absent(name, "\n".join(paths).encode())
        except ObjectExistsError:
            # a manifest is a pure function of (table, version): re-export
            # of the same committed version is an idempotent success
            pass
        return paths

    def scan_latest(self, table: str, keys: list[str]) -> DataFrame:
        """'Current state' view of a multi-versioned keyed table:
        latest-version-wins per key (the client-side idiom the reference's
        randomized test implements by hand, main_test.go:321-329),
        expressed as a window rank — Spark handles it as one shuffle."""
        from delta_lake_experiment_spark.operators.versioned import latest_version_wins

        return latest_version_wins(self.scan(table), keys)

    def scan_current(self, table: str) -> DataFrame:
        """Current state of a primary-keyed table: latest-version-wins
        using the DECLARED primary keys (reference roadmap README.md:31
        'built-in dedup') — no key columns at the call site."""
        tx = self._require_tx()
        keys = self._effective_snapshot(tx).pkeys.get(table)
        if not keys:
            raise TypeMismatchError(
                f"table {table!r} has no declared primary keys; "
                "use scan_latest(table, keys) instead"
            )
        return self.scan_latest(table, keys)

    def clone_table(self, src: str, dst: str) -> int:
        """Zero-copy SHALLOW CLONE (Delta's ``CREATE TABLE ... CLONE``):
        register ``dst`` with ``src``'s schema, declarations (primary
        keys, blooms, clustering, bucket spec), live data objects, and
        deletion vectors — METADATA only, not one data byte moved or
        copied. The clone is an independent table from its commit
        forward: COW deletes, DV deletes, compaction, and overwrites on
        either side rewrite only that side's references (a rewrite
        produces new objects and drops that table's reference to the
        shared ones), and VACUUM's keep-set is the NAME-based union of
        every table's live references, so a shared object survives
        until no table references it. The 100 TB use case: fork a
        production table for an experiment, a backfill rehearsal, or a
        point-in-time snapshot-as-table at O(files) metadata cost.

        Runs inside the current transaction — the clone and anything
        else in the tx commit atomically; first-committer-wins applies
        as usual. Source unflushed buffer rows raise (flush_buffer
        first: a clone of half-buffered state would be neither the
        committed snapshot nor the working one). Returns the number of
        data objects referenced."""
        tx = self._require_tx()
        schema = self.table_schema(src)  # raises for unknown tables
        if any(row is not None for _, row in tx.buffers.get(src, [])):
            raise TypeMismatchError(
                f"clone_table: source {src!r} has unflushed buffered"
                " rows - call flush_buffer first"
            )
        snap = self._effective_snapshot(tx)
        ddl = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in schema.fields
        )
        spec = snap.bucket_specs.get(src)
        self.create_table(
            dst,
            ddl,
            primary_keys=list(snap.pkeys.get(src, [])),
            bloom_columns=list(snap.bloom_cols.get(src, [])),
            cluster_by=list(snap.cluster_cols.get(src, [])),
            bucket_by=(list(spec["cols"]), int(spec["n"])) if spec else None,
            checks=dict(snap.checks.get(src, {})),
            generated=dict(snap.generated.get(src, {})),
            # the clone inherits the IDENTITY high-water mark: its rows
            # carry src's minted ids, so a reset-to-start clone would
            # re-mint them on the first insert
            identity={
                c: dict(v) for c, v in snap.identity.get(src, {}).items()
            },
        )
        # the clone references src's physical files, so it needs src's
        # column map (and retired set, and stamp-gated defaults) verbatim
        if (
            snap.col_maps.get(src)
            or snap.retired.get(src)
            or snap.defaults.get(src)
        ):
            tx.actions.append(
                ChangeMetadata(
                    table=dst,
                    schema_ddl=ddl,
                    column_map=dict(snap.col_maps.get(src, {})),
                    retired_phys=list(snap.retired.get(src, [])),
                    col_defaults={
                        c: dict(v)
                        for c, v in snap.defaults.get(src, {}).items()
                    },
                )
            )
        objs = snap.live_objects(src)
        for o in objs:
            tx.actions.append(
                AddDataObject(
                    name=o.name,
                    table=dst,
                    tx_id=o.tx_id,  # COW precedent: rows keep their tx
                    num_rows=o.num_rows,
                    size=o.size,
                    stats=dict(o.stats),
                    blooms=dict(o.blooms),
                    bucket_id=o.bucket_id,
                )
            )
        live_names = {o.name for o in objs}
        dv_objs: dict[str, list[str]] = {}
        for obj, dv_list in snap.table_dvs(src).items():
            if obj in live_names:
                for dv in dv_list:
                    dv_objs.setdefault(dv, []).append(obj)
        for dv, masked in sorted(dv_objs.items()):
            tx.actions.append(
                AddDeletionVector(
                    table=dst, dv_name=dv, objects=sorted(masked), tx_id=tx.id
                )
            )
        return len(objs)

    def rename_table(self, old: str, new: str) -> None:
        """ALTER TABLE old RENAME TO new — an atomic composition of the
        two verbs that already do the work: a zero-copy shallow CLONE
        to the new name (schema, declarations, identity high-water
        marks, column mapping, live objects, DV masks — O(files)
        metadata, zero data movement) plus an O(1) DROP of the old
        name, in ONE commit. First-committer-wins applies to both
        names; any concurrent same-table commit on either conflicts.

        Log-structured rename semantics (documented, Delta-adjacent):
        history rides the NAMES. Time travel below the rename reads the
        OLD name (until vacuum_log reclaims it); the new name's history
        and feed lineage START at the rename commit. Streams and change
        feeds positioned on the old name end with the named
        :class:`TableDroppedError` — a name-based consumer cannot
        silently follow a rename (Delta's rename breaks path/name-based
        consumers the same way). Reserved identity blocks held by any
        client against the old name die with its lineage (in-contract
        gaps); re-reserve under the new name.
        """
        tx = self._require_tx()
        self.clone_table(old, new)
        # migrate tx-local CONTINUATION state before drop_table purges
        # it (review catch): a pending identity high-water advance from
        # a same-tx mint must re-key to the new name — dropped, the
        # advance is silently lost and the next insert re-mints
        # duplicate GENERATED ALWAYS ids (rename_column migrates for
        # the same reason). Likewise the row-stamp cursor: a later
        # same-tx write to the new name must not restart _row_idx at 0
        # and collide with the stamps the cloned objects already carry
        # at this tx id (stamp uniqueness is what newest-first ordering
        # and latest-version-wins key on).
        for key in [k for k in tx.identity_hwm if k[0] == old]:
            tx.identity_hwm[(new, key[1])] = tx.identity_hwm.pop(key)
        if old in tx.next_idx:
            tx.next_idx[new] = tx.next_idx.pop(old)
        self.drop_table(old)

    def overwrite_table(self, table: str, df: DataFrame) -> None:
        """INSERT OVERWRITE: atomically replace the table's contents
        with ``df`` in this transaction — a remove action for every
        live object (their deletion vectors retire with them on
        replay) plus a normal bulk ingest of the new rows, one commit,
        one snapshot flip. Same-tx buffered rows for the table are
        dropped (they are part of what the overwrite replaces).
        Readers on older snapshots keep their version (snapshot
        isolation); first-committer-wins applies as usual. This is the
        Delta ``INSERT OVERWRITE`` / replaceWhere-all primitive the
        incremental-view refresh builds on: tables whose content is a
        derived O(keys) aggregate are cheapest to maintain by full
        replacement inside the SAME atomic commit as their freshness
        marker."""
        tx = self._require_tx()
        self.table_schema(table)  # raises for unknown tables
        snap = self._effective_snapshot(tx)
        tx.buffers[table] = []
        for obj in snap.live_objects(table):
            tx.actions.append(
                RemoveDataObject(name=obj.name, table=table, tx_id=tx.id)
            )
        self.write_dataframe(table, df)

    def scan_changes(
        self, table: str, from_version: int, to_version: Optional[int] = None
    ) -> DataFrame:
        """Change data feed: the NET row changes between two committed
        versions, as user columns + ``_change_type`` ('insert' |
        'delete'). A multi-version upsert surfaces as an insert (the new
        version) — and a delete of the old one only if the old version
        itself was removed; ``update_rows`` corrections keep their
        stamps and are invisible by design (see its docstring).

        Computation is a snapshot diff at FILE granularity, exact under
        writes, COW/DV deletes, MERGE and compaction:

        - files added between the versions hold insert candidates; rows
          that merely MOVED there by a rewrite are cancelled by an
          anti-join on their (immutable) ``_tx_id``/``_row_idx`` stamps
          against the rows of files removed between the versions;
        - the reverse anti-join yields deletes from removed files;
        - deletion vectors attached to still-live files between the two
          versions contribute their newly-masked positions as deletes.

        Compaction therefore reports zero changes (every row cancels),
        and the cost is O(files changed + masks added), never O(table).

        Works inside a transaction (default ``to_version`` = the tx
        snapshot) or outside one with ``to_version`` pinned / latest —
        the feed reads only committed, immutable objects, so no
        snapshot pinning is required (see streaming/change_feed.py for
        the incremental consumer built on this).
        """
        if to_version is not None:
            to_snap = replay_log(self.store, as_of=to_version)
        elif self.tx is not None:
            to_snap = self.tx.snapshot
        else:
            to_snap = self._current_snapshot()[0].copy()
        from_snap = replay_log(self.store, as_of=from_version)
        if table not in to_snap.tables:
            if table in from_snap.tables:
                # the requested range crosses the DROP: refuse with the
                # named error — an empty/partial diff would silently
                # hide that every row is gone and the lineage ended
                raise TableDroppedError(
                    f"table {table!r} was dropped between v"
                    f"{from_snap.version} and v{to_snap.version} - the"
                    " change feed cannot continue past a DROP TABLE"
                    " (resync consumers from the recreate, if any)",
                    # no recreate at to_version: no resync point exists
                    version=0,
                )
            raise TableNotFoundError(table)
        fb = from_snap.born.get(table)
        tb = to_snap.born.get(table)
        if (
            table in from_snap.tables
            and fb is not None
            and tb is not None
            and fb != tb
        ):
            # drop + recreate inside the range: two unrelated lineages
            # under one name — diffing them would report a plausible-
            # looking but meaningless insert/delete set
            raise TableDroppedError(
                f"table {table!r} was dropped and recreated between v"
                f"{from_snap.version} (lineage born v{fb}) and v"
                f"{to_snap.version} (born v{tb}) - resync change-feed"
                f" consumers from the recreate at v{tb}",
                version=tb,
            )
        stored = self._stored_schema(self._parse_ddl(to_snap.tables[table]))
        from_objs = from_snap.live_map(table)
        to_objs = to_snap.live_map(table)
        new_names = sorted(set(to_objs) - set(from_objs))
        gone_names = sorted(set(from_objs) - set(to_objs))
        common = set(to_objs) & set(from_objs)

        def _rows(snap, names, with_pos=False):
            # the feed reports rows in the TO-version logical shape:
            # read any file (old or new) under to_snap's column map and
            # defaults, while DV masks resolve against the era the
            # files are read from (``snap``)
            if (
                snap.col_maps.get(table, {}) != to_snap.col_maps.get(table, {})
                or snap.defaults.get(table, {}) != to_snap.defaults.get(table, {})
            ):
                hybrid = Snapshot(version=snap.version, tables=snap.tables)
                hybrid.dvs = snap.dvs
                hybrid.col_maps = to_snap.col_maps
                hybrid.defaults = to_snap.defaults
                snap = hybrid
            return self._read_live(
                table, snap, stored, [self.store.path_of(n) for n in names],
                with_pos=with_pos,
            )

        stamps = [TX_COL, IDX_COL]
        empty = self.spark.createDataFrame([], stored)
        new_rows = _rows(to_snap, new_names) if new_names else empty
        gone_rows = _rows(from_snap, gone_names) if gone_names else empty
        inserts = new_rows.join(gone_rows, stamps, "left_anti")
        deletes = gone_rows.join(new_rows, stamps, "left_anti")

        # newly-masked positions on files live at both versions
        from_dvs = from_snap.table_dvs(table)
        to_dvs = to_snap.table_dvs(table)
        masked_objs = {
            o
            for o in common
            if set(to_dvs.get(o, [])) - set(from_dvs.get(o, []))
        }
        if masked_objs:
            dv_names = sorted(
                {
                    dv
                    for o in masked_objs
                    for dv in set(to_dvs.get(o, [])) - set(from_dvs.get(o, []))
                }
            )
            mask = dv_fmt.mask_frame(
                self.spark, [self.store.path_of(n) for n in dv_names], objs=masked_objs
            )
            masked_rows = dv_fmt.mask_join(
                _rows(from_snap, sorted(masked_objs), with_pos=True), mask, "left_semi"
            ).drop(*dv_fmt.POS)
            deletes = deletes.unionByName(masked_rows)

        return inserts.withColumn("_change_type", F.lit("insert")).unionByName(
            deletes.withColumn("_change_type", F.lit("delete"))
        )

    def register_views(
        self,
        *tables: str,
        with_stamps: bool = False,
        as_of: Optional[int] = None,
        suffix: str = "",
    ) -> None:
        """Expose engine tables to Spark SQL as temp views.

        Each view is the table's snapshot-consistent scan at call time
        (the live-file list is resolved eagerly, so concurrent commits
        can't shift what the view reads mid-query). With no arguments,
        registers every table in the current snapshot. Pass
        ``with_stamps=True`` to expose ``_tx_id``/``_row_idx`` for
        version-aware SQL; ``as_of=<version>`` registers time-travel
        views (``suffix`` distinguishes them, e.g. ``suffix="_v3"`` for
        SQL like ``SELECT * FROM orders_v3``).
        """
        tx = self._require_tx()
        names = tables or tuple(self._effective_snapshot(tx).tables)
        for t in names:
            df = (
                self.scan_as_of(t, as_of)
                if as_of is not None
                else self.scan(t, with_stamps=with_stamps)
            )
            df.createOrReplaceTempView(t + suffix)

    # SQL time travel: `FROM t VERSION AS OF n` (Delta's SQL syntax).
    # Spark's parser only accepts VERSION AS OF on datasource relations,
    # not temp views, so the clause is rewritten BEFORE Catalyst sees
    # it: each `t VERSION AS OF n` becomes a pinned temp view `t__vn`
    # backed by scan_as_of(t, n) — the same log-replay mechanism that
    # gives readers snapshot isolation, now addressable from SQL.
    _VERSION_AS_OF_RE = re.compile(
        r"\b([A-Za-z_][A-Za-z0-9_]*)\s+VERSION\s+AS\s+OF\s+(\d+)", re.IGNORECASE
    )
    _TIMESTAMP_AS_OF_RE = re.compile(
        r"\b([A-Za-z_][A-Za-z0-9_]*)\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)'",
        re.IGNORECASE,
    )

    def sql(self, query: str) -> DataFrame:
        """Run SQL over this client's registered engine-table views.
        Catalyst plans the query over the snapshot scans — joins,
        aggregates, windows, subqueries all work against ACID tables.
        ``FROM t VERSION AS OF n`` reads engine table ``t`` pinned at
        committed log version ``n``; ``FROM t TIMESTAMP AS OF
        '2024-01-01T12:00:00'`` resolves the newest commit at-or-before
        that wall-clock first (time travel)."""
        self._require_tx()

        def _pin(m: "re.Match[str]") -> str:
            t, v = m.group(1), int(m.group(2))
            view = f"{t}__v{v}"
            # stamp columns stay internal, matching register_views()
            self.scan_as_of(t, v).drop(TX_COL, IDX_COL).createOrReplaceTempView(view)
            return view

        def _pin_ts(m: "re.Match[str]") -> str:
            # resolve wall-clock -> version, then share the VERSION AS
            # OF pinning path (one mechanism, two spellings)
            t, v = m.group(1), self._version_at_timestamp(m.group(2))
            view = f"{t}__v{v}"
            self.scan_as_of(t, v).drop(TX_COL, IDX_COL).createOrReplaceTempView(view)
            return view

        query = self._TIMESTAMP_AS_OF_RE.sub(_pin_ts, query)
        return self.spark.sql(self._VERSION_AS_OF_RE.sub(_pin, query))

    def execute(self, statement: str) -> Optional[DataFrame]:
        """Execute one SQL statement, routing DML to the engine's
        transactional operators and everything else to Catalyst.

        ``DELETE FROM t WHERE col BETWEEN lo AND hi`` (or ``col = v``)
        -> :meth:`delete_rows`; ``UPDATE t SET c = lit, ... WHERE ...``
        -> :meth:`update_rows`; ``INSERT INTO t <select>`` ->
        :meth:`insert_into`; ``MERGE INTO t USING (<select>) [WHEN
        MATCHED THEN UPDATE|DELETE|IGNORE] [WHEN NOT MATCHED THEN
        INSERT|IGNORE]`` -> :meth:`merge` on the table's declared
        primary keys (returns None for all four — effects are
        transactional, visible at commit). Any other statement runs as
        a read query over the registered views and returns its
        DataFrame. The DML grammar is intentionally exactly the
        engine's native primitives (inclusive range / literal SET /
        pk-matched merge); outside it, :class:`UnsupportedSqlError`
        names the limit instead of silently running
        non-transactional SQL.
        """
        from delta_lake_experiment_spark.plans.dml import (
            AlterAddColumns,
            AlterAddConstraint,
            AlterDropConstraint,
            CloneTable,
            GenerateManifest,
            AlterColumnType,
            AlterDropColumn,
            AlterNotNull,
            AlterRenameColumn,
            AlterSyncIdentity,
            CreateTable,
            Delete,
            DescribeChanges,
            DescribeDetail,
            DescribeHistory,
            DropTableStmt,
            Insert,
            Merge,
            Optimize,
            OptimizeSketch,
            RenameTableStmt,
            ReserveIdentity,
            Restore,
            ShowDroppedTables,
            UndropTableStmt,
            Update,
            UpgradeProtocol,
            Vacuum,
            VacuumLog,
            parse_dml,
        )

        stmt = parse_dml(statement)
        if isinstance(stmt, OptimizeSketch):
            # sketch-table maintenance; like VACUUM it manages its own
            # transactions (the fold is one run_tx commit)
            return self.compact_sketch(stmt.table)
        if isinstance(stmt, Vacuum):
            # store-wide maintenance; runs OUTSIDE a transaction (the
            # table name is accepted for SQL familiarity)
            if stmt.dry_run:
                # DRY RUN returns the would-reclaim report as rows
                report = self.vacuum(
                    retain_versions=stmt.retain_versions, dry_run=True
                )
                schema = T.StructType(
                    [
                        T.StructField("name", T.StringType(), False),
                        T.StructField("bytes", T.LongType(), True),
                        T.StructField("age_seconds", T.DoubleType(), True),
                    ]
                )
                return self.spark.createDataFrame(
                    [
                        (o["name"], o.get("bytes"), o.get("age_seconds"))
                        for o in report["objects"]
                    ],
                    schema,
                )
            self.vacuum(retain_versions=stmt.retain_versions)
            return None
        if isinstance(stmt, VacuumLog):
            # log-metadata retention; store-wide maintenance like VACUUM
            if stmt.dry_run:
                report = self.vacuum_log(
                    min_age_seconds=stmt.retain_hours * 3600.0, dry_run=True
                )
                schema = T.StructType(
                    [
                        T.StructField("name", T.StringType(), False),
                        T.StructField("version", T.LongType(), False),
                    ]
                )
                return self.spark.createDataFrame(
                    [(o["name"], o["version"]) for o in report["objects"]],
                    schema,
                )
            self.vacuum_log(min_age_seconds=stmt.retain_hours * 3600.0)
            return None
        if isinstance(stmt, DescribeHistory):
            # log metadata read; like VACUUM, valid outside a tx
            return self.history(table=stmt.table, limit=stmt.limit)
        if isinstance(stmt, DescribeChanges):
            # the feed reads only committed immutable objects
            return self.scan_changes(
                stmt.table, stmt.from_version, stmt.to_version
            )
        if isinstance(stmt, DescribeDetail):
            # metadata read, tx-optional like its DESCRIBE siblings
            return self.describe_detail(stmt.table)
        if isinstance(stmt, ShowDroppedTables):
            # log metadata read, tx-optional like DESCRIBE HISTORY
            rows = self.list_dropped_tables(verify_bytes=stmt.verify)
            schema = T.StructType(
                [
                    T.StructField("table", T.StringType(), False),
                    T.StructField("version", T.LongType(), False),
                    T.StructField("dropped_at", T.TimestampType(), True),
                    T.StructField("recoverable", T.BooleanType(), False),
                    T.StructField("reason", T.StringType(), True),
                ]
            )
            return self.spark.createDataFrame(
                [
                    (
                        r["table"],
                        r["version"],
                        r["dropped_at"],
                        r["recoverable"],
                        r["reason"],
                    )
                    for r in rows
                ],
                schema,
            )
        if isinstance(stmt, UpgradeProtocol):
            # log-wide shared metadata, runs OUTSIDE a transaction like
            # VACUUM (the table name is accepted for SQL familiarity);
            # returns the folded protocol as one row
            proto = self.upgrade_protocol(
                reader_features=stmt.reader_features,
                writer_features=stmt.writer_features,
            )
            return self.spark.createDataFrame(
                [(proto["rf"], proto["wf"])],
                "reader_features ARRAY<STRING>, writer_features ARRAY<STRING>",
            )
        if isinstance(stmt, ReserveIdentity):
            # block reservation runs OUTSIDE a transaction, like
            # UPGRADE PROTOCOL (the advance must commit before anything
            # mints from the block); returns the range as one row
            first, last = self.reserve_identity(
                stmt.table, stmt.column, stmt.n
            )
            return self.spark.createDataFrame(
                [(first, last)], "first BIGINT, last BIGINT"
            )
        self._require_tx()
        if isinstance(stmt, GenerateManifest):
            paths = self.write_manifest(stmt.table, materialize=stmt.materialize)
            return self.spark.createDataFrame(
                [(p,) for p in paths], "path STRING"
            )
        if stmt is None:
            return self.sql(statement)
        if isinstance(stmt, Delete):
            self.delete_rows(stmt.table, stmt.column, stmt.start, stmt.end)
        elif isinstance(stmt, Update):
            self.update_rows(stmt.table, stmt.column, stmt.start, stmt.end, stmt.set_values)
        elif isinstance(stmt, Insert):
            self.insert_into(stmt.table, stmt.query)
        elif isinstance(stmt, Merge):
            self.merge(
                stmt.table,
                self.sql(stmt.query),
                when_matched=stmt.when_matched,
                when_not_matched=stmt.when_not_matched,
            )
        elif isinstance(stmt, CreateTable):
            creator = (
                self.create_or_replace_table
                if stmt.or_replace
                else self.create_table
            )
            creator(
                stmt.table,
                stmt.schema_ddl,
                primary_keys=stmt.primary_keys or None,
                bloom_columns=stmt.bloom_columns or None,
                cluster_by=stmt.cluster_by or None,
                generated=stmt.generated or None,
                identity=stmt.identity or None,
            )
        elif isinstance(stmt, Optimize):
            self.compact(
                stmt.table,
                target_files=stmt.target_files,
                cluster_by=stmt.cluster_by,
                zorder_by=stmt.zorder_by,
                where=stmt.where,
                target_bytes=stmt.target_bytes,
            )
        elif isinstance(stmt, Restore):
            self.restore_table(
                stmt.table,
                stmt.version
                if stmt.version is not None
                else self._version_at_timestamp(stmt.timestamp),
            )
        elif isinstance(stmt, CloneTable):
            self.clone_table(stmt.src, stmt.dst)
        elif isinstance(stmt, AlterAddConstraint):
            self.add_constraint(stmt.table, stmt.name, stmt.expr)
        elif isinstance(stmt, AlterDropConstraint):
            self.drop_constraint(stmt.table, stmt.name)
        elif isinstance(stmt, AlterRenameColumn):
            self.rename_column(stmt.table, stmt.old, stmt.new)
        elif isinstance(stmt, AlterDropColumn):
            self.drop_column(stmt.table, stmt.column)
        elif isinstance(stmt, AlterColumnType):
            self.widen_column(stmt.table, stmt.column, stmt.new_type)
        elif isinstance(stmt, AlterAddColumns):
            self.add_columns(stmt.table, stmt.columns_ddl)
        elif isinstance(stmt, AlterNotNull):
            if stmt.set:
                self.set_not_null(stmt.table, stmt.column)
            else:
                self.drop_not_null(stmt.table, stmt.column)
        elif isinstance(stmt, AlterSyncIdentity):
            self.sync_identity(stmt.table)
        elif isinstance(stmt, DropTableStmt):
            self.drop_table(stmt.table)
        elif isinstance(stmt, UndropTableStmt):
            self.undrop_table(stmt.table)
        elif isinstance(stmt, RenameTableStmt):
            self.rename_table(stmt.old, stmt.new)
        return None

    def insert_into(self, table: str, source: Union[str, DataFrame]) -> None:
        """INSERT INTO ``table`` from a SQL query (over registered
        views) or a DataFrame — the SQL write surface for multi-table
        transactions.

        Every ``insert_into`` in one open transaction rides the same
        log record, so writes to MANY tables commit atomically (one
        put-if-absent): readers see all of them or none. The reference
        has this atomicity implicitly (one log record per tx) but no
        query surface to reach it; here it composes with :meth:`sql`,
        e.g. fan one source scan out into a fact table and an
        aggregate rollup table in a single ACID commit.
        """
        df = self.sql(source) if isinstance(source, str) else source
        self.write_dataframe(table, df)

    # ------------------------------------------------------------------
    # deletes
    # ------------------------------------------------------------------

    def delete_rows(
        self, table: str, column: str, start: Any, end: Any, use_dv: bool = False
    ) -> None:
        """Inclusive-range delete (reference writes.go:90-162).

        ``use_dv=True`` records a deletion vector (positional soft
        delete, the reference's README.md:38 roadmap item) instead of
        copy-on-write rewriting — O(mask) written instead of O(affected
        files); scans apply the mask, compaction materializes it.

        1. Tombstone matching *unflushed* rows in the buffer.
        2. Stat-prune candidate files, find truly affected files with a
           Spark job (``_metadata.file_path`` over matching rows only),
           then rewrite the affected files' surviving rows in one
           distributed write (original ``_tx_id``/``_row_idx`` stamps
           preserved, so multi-version order survives — same trick as
           writes.go:142-144). Small candidate sets take the same
           rewrite driver-side with pyarrow instead.
        3. Log ``remove`` for each affected file + ``add`` for rewrites.

        Affected-file discovery and rewrite both read only stat-pruned
        candidates — at scale a range delete touches O(matching files),
        not O(table).
        """
        tx = self._require_tx()
        schema = self.table_schema(table)
        start, end = self._check_range_types(schema, column, start, end)

        # 1. tombstone unflushed matches (reference writes.go:100-110)
        buf = tx.buffers.get(table, [])
        for i, (idx, row) in enumerate(buf):
            if row is None:
                continue
            value = row[self._col_pos(schema, column)]
            if value is not None and start <= value <= end:
                buf[i] = (idx, None)

        # 2. flushed matches — COW rewrite of affected files only. The
        # delete's read scope is its own range predicate (recorded even
        # when pruning leaves no candidates: observing absence is still
        # a read), and read_files covers EVERY candidate on all three
        # paths (the Spark-free driver path never goes through
        # _read_live)
        snap = self._effective_snapshot(tx)
        candidates = self._plan_files(tx, table, snap, {column: (start, end)})
        tx.read_files.setdefault(table, set()).update(candidates)
        if not candidates:
            return
        # Small-transaction fast path: when the stat-pruned candidates
        # hold few rows in total (num_rows is in every add action), the
        # whole COW rewrite fits comfortably in the driver — pyarrow
        # filter + rewrite with zero Spark jobs. A metadata-heavy OLTP-ish
        # loop (the reference's randomized canary) is then bounded by
        # log I/O, not by ~150 ms of Spark scheduling per delete. Bulk
        # deletes fall through to the distributed path, and so do
        # defaulted predicate columns: the driver's raw pyarrow read
        # would miss pre-birth rows whose NULL logically reads as the
        # default.
        if not use_dv and column not in snap.defaults.get(table, {}):
            live = snap.live_map(table)
            cand_rows = sum(live[_basename_of_uri(p)].num_rows for p in candidates)
            if cand_rows <= _DRIVER_DELETE_MAX_ROWS:
                # pure pyarrow + store API: works with no SparkSession at
                # all (multiprocess OLTP workers delete through this path)
                self._delete_rows_driver(
                    tx, table, snap, schema, column, start, end, candidates
                )
                return
        # the Column is built only on the Spark paths — constructing it
        # above would pin even driver-side deletes to a live session
        stored = self._stored_schema(schema)
        pred = F.col(column).between(F.lit(start), F.lit(end))
        if use_dv:
            self._write_dv(
                tx,
                table,
                self._read_live(table, snap, stored, candidates, with_pos=True).filter(pred),
            )
            return
        self._rewrite_affected(
            tx,
            table,
            snap,
            stored,
            candidates,
            pred,
            lambda rows: rows.filter(~pred | F.col(column).isNull()),
            rewrite=True,
        )

    def merge(
        self,
        table: str,
        source_df: DataFrame,
        when_matched: str = "update",
        when_not_matched: str = "insert",
    ) -> dict:
        """MERGE INTO a primary-keyed table.

        Matching is on the table's declared primary keys. Actions:
        ``when_matched``: "update" writes the source row as the key's
        new current version (multi-version append — latest-wins, so
        :meth:`scan_current` reflects it and history stays intact);
        "delete" soft-deletes every live version of matched keys via a
        deletion vector; "ignore" leaves them. ``when_not_matched``:
        "insert" appends source rows with unseen keys, "ignore" drops
        them. Returns counts {"updated"/"deleted": n, "inserted": n}.

        Plan shape (single-pass): the source is persisted once, so a
        non-deterministic source cannot diverge between the count and
        the write or between the matched/unmatched splits; the big side
        is probed WITH the distinct source keys first, so the
        matched-key distinct shuffles only keys that can match — never
        the whole table's key set; and action counts derive from the
        written objects' footer row counts instead of separate
        ``count()`` jobs. Join strategies are AQE size-gated, not
        hinted, so a fact-sized source degrades to shuffle joins
        instead of a driver OOM. The table buffer is flushed first so
        same-tx ``write_row`` rows participate in matching AND in the
        deletion-vector mask (they are real objects by the time the
        mask is built).

        File pruning: the source's per-key [min, max] bounds (ONE tiny
        agg job on the already-persisted source) prune the table's
        file list through the log-level stats before any table file is
        read — a match can only live in a file whose stats admit every
        key column's source range, so a small or range-local source
        touches O(matching files), never O(table). On tables BUCKETED
        by (a subset of) the merge keys, the source's distinct keys
        additionally hash driver-side to an EXACT bucket-id set
        (capped at _MERGE_BUCKET_KEYS_MAX distinct tuples) — the
        O(k/n) cut min/max bounds cannot give for scattered point
        keys. Files without stats are conservatively kept; a source
        with no non-NULL key rows matches nothing by SQL semantics, so
        the matched path skips the table read entirely.
        """
        if when_matched not in ("update", "delete", "ignore"):
            raise TypeMismatchError(f"when_matched={when_matched!r}")
        if when_not_matched not in ("insert", "ignore"):
            raise TypeMismatchError(f"when_not_matched={when_not_matched!r}")
        tx = self._require_tx()
        if tx.buffers.get(table):
            self._flush_buffer(table)
        # ONE snapshot for the whole merge: _effective_snapshot is an
        # O(snapshot) deep copy, and nothing between here and the
        # delete-mask build changes this table's live set (the update /
        # insert writes land after it)
        snap0 = self._effective_snapshot(tx)
        keys = snap0.pkeys.get(table)
        if not keys:
            raise TypeMismatchError(f"merge requires declared primary keys on {table!r}")
        always_ident = sorted(
            c
            for c, v in snap0.identity.get(table, {}).items()
            if v.get("mode", "always") == "always"
        )
        if always_ident:
            # the latest-version-wins merge writes WHOLE new row
            # versions, so matched updates would need the source to
            # carry the identity column while GENERATED ALWAYS forbids
            # inserts from supplying it — the two lanes are mutually
            # inconsistent on one source frame (Delta rejects MERGE
            # INSERT with explicit ALWAYS identity values for the same
            # reason). BY DEFAULT identity tables merge fine (supplied
            # values stand; run SYNC IDENTITY afterwards). Insert-only
            # merges can write_dataframe the anti-joined source
            # directly; update lanes should key on a natural column.
            raise TypeMismatchError(
                f"merge into table {table!r} with GENERATED ALWAYS"
                f" IDENTITY column(s) {always_ident} is not supported:"
                " ALWAYS accepts no supplied values, but the merge's"
                " matched lane writes whole row versions (declare the"
                " column BY DEFAULT to merge)"
            )
        src = source_df.persist()
        pr, any_keys = self._source_key_bounds(src, table, keys)
        kb = (
            self._source_bucket_ids(src, table, keys, snap0)
            if any_keys
            else None
        )
        # ONE plan for the whole merge: the matched-key read and the
        # delete lane's DV read both take this file list, and the read
        # scope is recorded here even when it prunes to zero files
        files = self._plan_files(tx, table, snap0, pr, kb) if any_keys else []
        try:
            out = {"updated": 0, "deleted": 0, "inserted": 0}
            if not files:
                # no live file can hold a match (a CDC burst of entirely
                # NEW keys, an empty or all-NULL-key source — NULL never
                # equals anything): skip the probe read, the matched
                # write and the anti-join, all empty-input Spark jobs
                # (~1 s of fixed cost at trickle scale), and append the
                # whole source. The buffer was flushed above, so the
                # snapshot's live set is the entire matchable state.
                if when_not_matched == "insert":
                    out["inserted"] = self._write_counted(table, src)
                return out
            stored = self._stored_schema(self.table_schema(table))
            base = self._read_live(
                table,
                snap0,
                stored,
                files,
                with_pos=when_matched == "delete",
                record=True,
            )
            matched_keys = (
                base.select(*keys)
                .join(src.select(*keys).distinct(), list(keys), "left_semi")
                .distinct()
                .persist()
            )
            try:
                if when_matched == "update":
                    matched = src.join(matched_keys, list(keys), "left_semi")
                    out["updated"] = self._write_counted(table, matched)
                elif when_matched == "delete":
                    hits = base.join(matched_keys, list(keys), "left_semi")
                    out["deleted"] = self._write_dv(tx, table, hits)
                if when_not_matched == "insert":
                    unmatched = src.join(matched_keys, list(keys), "left_anti")
                    out["inserted"] = self._write_counted(table, unmatched)
                return out
            finally:
                matched_keys.unpersist()
        finally:
            src.unpersist()

    def update_rows(
        self,
        table: str,
        column: str,
        start: Any,
        end: Any,
        set_values: dict[str, Any],
        allow_mv_sources: bool = False,
    ) -> None:
        """UPDATE ... SET set_values WHERE column BETWEEN start AND end.

        COW in-place update: affected files are rewritten with matching
        rows transformed and ``_tx_id``/``_row_idx`` stamps preserved
        (the update is a correction, not a new version — time travel to
        earlier versions still reads the original objects). Values may
        be literals or Column expressions over the row.

        Stamp preservation makes the correction INVISIBLE to the change
        feed — by design — so a table that feeds an incremental
        materialized view would silently diverge from its recompute.
        The MV refresh records its source in the txn marker
        (``mv_<view>__src_<table>``), so this guard is self-enforcing:
        updating a marked source raises unless ``allow_mv_sources=True``
        (after which the caller owns recomputing the view).
        """
        tx = self._require_tx()
        if not allow_mv_sources:
            suffix = f"__src_{table}"
            views = sorted(
                a
                for a in tx.snapshot.txns
                if a.startswith("mv_") and a.endswith(suffix)
            )
            if views:
                raise TypeMismatchError(
                    f"table {table!r} feeds incremental materialized"
                    f" view(s) {views} - update_rows' stamp-preserving"
                    " corrections are invisible to the change feed and"
                    " would silently diverge them; pass"
                    " allow_mv_sources=True to override, then recompute"
                    " the views"
                )
        schema = self.table_schema(table)
        start, end = self._check_range_types(schema, column, start, end)
        names = {f.name for f in schema.fields}
        unknown = set(set_values) - names
        if unknown:
            raise TypeMismatchError(f"unknown columns in SET: {sorted(unknown)}")
        ident_all = self._identity_spec(tx, table)
        ident_set = set(set_values) & set(ident_all)
        if ident_set:
            # Delta forbids UPDATE SET on identity columns in BOTH
            # modes; name the declared mode(s) so a BY DEFAULT table's
            # error doesn't claim the column is GENERATED ALWAYS
            modes = sorted(
                f"{c} (GENERATED"
                f" {'ALWAYS' if ident_all[c].get('mode', 'always') == 'always' else 'BY DEFAULT'}"
                " AS IDENTITY)"
                for c in ident_set
            )
            raise TypeMismatchError(
                f"IDENTITY column(s) {modes} cannot be SET - identity"
                " values are never updated in place (rows keep their"
                " ids across updates; BY DEFAULT values are supplied"
                " at INSERT time only)"
            )

        # unflushed buffer rows update in place
        snap = self._effective_snapshot(tx)
        gen_cols = snap.generated.get(table, {})
        buf = tx.buffers.get(table, [])
        pos = {f.name: i for i, f in enumerate(schema.fields)}
        for i, (idx, row) in enumerate(buf):
            if row is None:
                continue
            value = row[self._col_pos(schema, column)]
            if value is not None and start <= value <= end:
                new_row = list(row)
                for cname, v in set_values.items():
                    if isinstance(v, Column):
                        raise TypeMismatchError(
                            "Column expressions not supported for unflushed rows; "
                            "commit first or pass literals"
                        )
                    new_row[pos[cname]] = v
                # clear non-SET generated cells so the flush recomputes
                # them from the updated sources (None = "not supplied")
                for gcol in gen_cols:
                    if gcol not in set_values:
                        new_row[pos[gcol]] = None
                buf[i] = (idx, new_row)

        # same read-scope contract as delete_rows: the update's range
        # predicate is what this tx's outcome depended on (read_files
        # gets only the affected files, via the DV-aware rewrite read)
        candidates = self._plan_files(tx, table, snap, {column: (start, end)})
        if not candidates:
            return
        pred = F.col(column).between(F.lit(start), F.lit(end))

        def _set(rows: DataFrame) -> DataFrame:
            # the match mask is MATERIALIZED against the pre-SET frame:
            # the generated-column recompute below runs on top of the
            # updated frame, where re-evaluating `pred` would see the
            # post-SET value of the predicate column — a SET that moves
            # it out of [start, end] would then skip the recompute and
            # crash on the implicit CHECK
            updated = rows.withColumn("__upd", pred).withColumns(
                {
                    cname: F.when(F.col("__upd"), v if isinstance(v, Column) else F.lit(v))
                    .otherwise(F.col(cname))
                    .cast(schema[cname].dataType)
                    for cname, v in set_values.items()
                }
            )
            # GENERATED columns RECOMPUTE on the updated rows (Delta's
            # UPDATE semantics: a SET on a source column refreshes the
            # generated value); explicitly-SET generated columns are
            # left to the implicit CHECK to arbitrate
            for gcol, gexpr in gen_cols.items():
                if gcol in set_values:
                    continue
                updated = updated.withColumn(
                    gcol,
                    F.when(F.col("__upd"), F.expr(gexpr))
                    .otherwise(F.col(gcol))
                    .cast(schema[gcol].dataType),
                )
            return updated.drop("__upd")

        # NOT rewrite-tagged: UPDATE modifies values, so its output can
        # move rows INTO a concurrent reader's recorded scope (SET k=50
        # vs a reader that observed "no rows in [40,60]") — a rw
        # exemption here would re-admit the write-skew class this lane
        # exists to catch. Delta treats UPDATE AddFiles as
        # dataChange=true conflict candidates for the same reason;
        # updates whose output stats are disjoint from every recorded
        # scope still admit through the stats test.
        self._rewrite_affected(
            tx,
            table,
            snap,
            self._stored_schema(schema),
            candidates,
            pred,
            _set,
            rewrite=False,
        )

    def _rewrite_affected(
        self,
        tx: "_Tx",
        table: str,
        snap: Snapshot,
        stored: T.StructType,
        candidates: list[str],
        pred: Column,
        transform: Callable[[DataFrame], DataFrame],
        rewrite: bool,
    ) -> None:
        """The distributed copy-on-write step DELETE and UPDATE share:
        one small collect finds the candidates holding a row that
        matches ``pred``; exactly those are read DV-aware (recorded in
        the tx read set) so the rewrite also materializes any prior
        soft deletes — removing the objects retires their vectors, no
        resurrection — and the verb's ``transform`` of that frame is
        published in their place. Rewritten rows keep their
        ``_tx_id``/``_row_idx`` stamps, so multi-version order
        survives."""
        hits = self._read_live(table, snap, stored, candidates, with_pos=True).filter(pred)
        affected = sorted({r[0] for r in hits.select("__obj").distinct().collect()})
        if not affected:
            return
        rows = self._read_live(
            table, snap, stored, [self.store.path_of(n) for n in affected], record=True
        )
        self._publish_staged(
            tx,
            table,
            self._bucketize(tx, table, transform(rows)),
            snap,
            rewrite=rewrite,
            replaced=affected,
        )

    def _write_dv(self, tx: "_Tx", table: str, positions: DataFrame) -> int:
        """Soft delete: publish the ``__obj``/``__ridx`` positions of a
        ``with_pos`` read as one deletion-vector object + log action
        instead of rewriting data files — O(mask) written instead of
        O(affected files); scans apply the mask, compaction or a later
        COW rewrite materializes it. Returns rows masked (0 = no-op)."""
        with self._staging_dir(dv_fmt.to_payload(positions).coalesce(1)) as staging:
            part = next(
                (f for f in sorted(os.listdir(staging)) if f.endswith(".parquet")), None
            )
            if part is None:
                return 0
            import pyarrow.parquet as pq

            src = os.path.join(staging, part)
            counts = dv_fmt.masked_counts([pq.read_table(src, columns=[dv_fmt.OBJ])])
            if not counts:
                return 0
            num_deleted = sum(counts.values())
            dv_name = f"dv_{table}_{uuid.uuid4().hex}.parquet"
            self.store.put_file_if_absent(dv_name, src)
            tx.actions.append(
                AddDeletionVector(
                    table=table,
                    dv_name=dv_name,
                    objects=sorted(counts),
                    tx_id=tx.id,
                    num_deleted=num_deleted,
                )
            )
            return num_deleted

    def _arrow_bound(self, pa_type, bound: Any) -> Any:
        """Align a Python datetime bound with an Arrow column's timestamp
        zone semantics: Spark writes engine timestamps as UTC-adjusted
        instants (tz-aware in Arrow), while API/SQL bounds are naive
        session-local datetimes — comparing them raises ArrowInvalid.
        Naive bounds are localized to the Spark session timezone."""
        import pyarrow as pa

        if isinstance(bound, datetime.datetime) and pa.types.is_timestamp(pa_type):
            if pa_type.tz is not None and bound.tzinfo is None:
                bound = bound.replace(tzinfo=self._session_tzinfo())
            elif pa_type.tz is None and bound.tzinfo is not None:
                bound = bound.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return bound

    def _session_tzinfo(self) -> datetime.tzinfo:
        tz = self.spark.conf.get("spark.sql.session.timeZone", "UTC")
        try:
            import zoneinfo

            return zoneinfo.ZoneInfo(tz)
        except Exception:
            return datetime.timezone.utc

    def _delete_rows_driver(
        self,
        tx: "_Tx",
        table: str,
        snap: Snapshot,
        schema: T.StructType,
        column: str,
        start: Any,
        end: Any,
        candidates: list[str],
    ) -> None:
        """Driver-side COW rewrite for small candidate sets (pyarrow,
        zero Spark jobs). Same semantics as the distributed path: keep
        rows outside [start, end] or with NULL in the column; rewritten
        rows keep their original ``_tx_id``/``_row_idx`` stamps; prior
        deletion-vector masks are materialized into the rewrite."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        # files carry physical names (column mapping)
        column = snap.col_maps.get(table, {}).get(column, column)
        table_dvs = snap.table_dvs(table)
        live = snap.live_map(table)

        with self._staging_dir() as staging:
            for i, path in enumerate(candidates):
                obj_name = _basename_of_uri(path)
                tbl = self._read_store_parquet(obj_name)
                if column not in tbl.schema.names:
                    # pre-schema-evolution object: the column reads as
                    # all-NULL, NULLs never match a range -> untouched
                    continue
                masked = dv_fmt.masked_positions(
                    [
                        self._read_store_parquet(n, columns=dv_fmt.COLUMNS)
                        for n in table_dvs.get(obj_name, ())
                    ],
                    obj_name,
                )
                live_rows = dv_fmt.drop_positions(tbl, masked)
                col = live_rows[column]
                lo_b = self._arrow_bound(col.type, start)
                hi_b = self._arrow_bound(col.type, end)
                matched = pc.and_kleene(
                    pc.greater_equal(col, lo_b), pc.less_equal(col, hi_b)
                )
                survivors = live_rows.filter(pc.fill_null(pc.invert(matched), True))
                if len(survivors) == len(tbl):
                    continue  # untouched file stays as-is
                if len(survivors):
                    tmp = os.path.join(staging, f"rw_{i}.parquet")
                    pq.write_table(survivors, tmp)
                    # a COW rewrite of ONE object is a row subset of it,
                    # so the rewrite stays in the source object's bucket
                    self._register_object(
                        table, tx, tmp,
                        bucket_id=live[obj_name].bucket_id,
                        rewrite=True,
                    )
                tx.actions.append(
                    RemoveDataObject(name=obj_name, table=table, tx_id=tx.id)
                )

    # ------------------------------------------------------------------
    # maintenance
    # ------------------------------------------------------------------

    def compact(
        self,
        table: str,
        target_files: int = 1,
        cluster_by: Optional[list[str]] = None,
        zorder_by: Optional[list[str]] = None,
        where: Optional[tuple] = None,
        target_bytes: Optional[int] = None,
    ) -> None:
        """OPTIMIZE: rewrite the table's live objects into ``target_files``
        large ones (remove+add in this tx) — the reference's unchecked
        compaction TODO (README.md:32). Run after many small commits to
        restore large-scan efficiency.

        ``cluster_by`` additionally range-partitions + sorts the rewrite
        on those columns (lexicographic — ideal for predicates on the
        leading column): each output file then covers a tight [min,max]
        slice, so the log-level stats pruning and Parquet row-group
        skipping both become surgical for predicates on the cluster
        columns. ``zorder_by`` (2+ numeric or string columns) instead
        interleaves the bits of per-column quantized ranks (OPTIMIZE
        ... ZORDER; strings rank on their 7-byte prefix):
        every listed column gets locality in every file, so pruning
        works for predicates on ANY of them, not just the first.

        BUCKETED tables compact WITHIN their declared layout: the
        rewrite re-hashes into the table's bucket count (one output
        file per non-empty bucket — ``target_files`` does not apply;
        the bucket count IS the file-count contract), so the
        shuffle-free join property survives compaction.
        ``cluster_by``/``zorder_by`` are rejected for bucketed tables
        (they would dictate a conflicting partitioning).

        ``where=(column, lo, hi)`` (OPTIMIZE ... WHERE — the engine's
        native inclusive-range primitive) compacts SELECTIVELY: only
        files whose stats intersect the range are rewritten; everything
        else is untouched metadata. This is the maintenance shape that
        matters at scale — a day's hot ingest range compacts in
        O(that range's files) while the cold bulk never rewrites.
        Files without stats for the column are conservatively included.
        No rows are deleted: the predicate selects FILES, the rewrite
        keeps all their (unmasked) rows.

        ``target_bytes`` switches to SIZE-AWARE bin-packing (Delta
        OPTIMIZE's default shape, using the per-object ``size`` stat in
        the log): only files SMALLER than the target (plus DV-masked
        files, whose rewrite materializes the mask) are rewritten, into
        ``ceil(selected_bytes / target_bytes)`` outputs; files already
        at target are untouched metadata, so repeated maintenance runs
        converge to a no-op instead of rewriting the cold bulk every
        time. Composes with ``where`` (select the range, then the small
        files within it) and with cluster/zorder layouts.
        """
        tx = self._require_tx()
        schema = self.table_schema(table)
        snap = self._effective_snapshot(tx)
        objs = snap.live_objects(table)
        if where is not None:
            w_col, w_lo, w_hi = where
            w_lo, w_hi = self._check_range_types(schema, w_col, w_lo, w_hi)
            keep_names = {
                _basename_of_uri(p)
                for p in self._plan_files(
                    tx, table, snap, {w_col: (w_lo, w_hi)}, record_scope=False
                )
            }
            objs = [o for o in objs if o.name in keep_names]
        if target_bytes is not None:
            if target_bytes <= 0:
                raise TypeMismatchError(
                    f"target_bytes must be positive, got {target_bytes}"
                )
            # size-aware OPTIMIZE (Delta's bin-packing shape, using the
            # per-object size stat in the log): rewrite only SMALL
            # files (< target_bytes) and DV-masked files — files
            # already at target are untouched metadata. At 100 TB this
            # is the difference between compacting a day's trickle of
            # small commits and rewriting the cold bulk every run.
            # Unknown sizes (pre-size log records) are conservatively
            # included; they carry a size after the rewrite.
            masked = set(snap.table_dvs(table))
            objs = [
                o
                for o in objs
                if o.size < target_bytes or o.name in masked
            ]
            sel_bytes = sum(max(o.size, 0) for o in objs)
            target_files = max(
                1, -(-sel_bytes // target_bytes)  # ceil
            )
        bucket_spec = self._bucket_spec(tx, table)
        if bucket_spec is not None and (cluster_by or zorder_by):
            raise TypeMismatchError(
                "cannot cluster/zorder a bucketed table - the bucket"
                " layout dictates the partitioning"
            )
        obj_names = {o.name for o in objs}
        candidate_dvs = {
            n: v for n, v in snap.table_dvs(table).items() if n in obj_names
        }
        needs_rewrite = cluster_by or zorder_by or candidate_dvs
        if bucket_spec is not None:
            # small-file consolidation: rewrite when any bucket holds
            # more than one object (or DVs need materializing) —
            # target_files does not apply to bucketed tables
            from collections import Counter

            per_bucket = Counter(o.bucket_id for o in objs)
            if not (needs_rewrite or any(c > 1 for c in per_bucket.values())):
                return
        elif len(objs) <= target_files and not needs_rewrite:
            # the unbucketed no-op early return (review catch: losing
            # it made every maintenance call a full-table rewrite)
            return
        stored = self._stored_schema(schema)
        files = [self.store.path_of(o.name) for o in objs]
        # DV-aware: compaction materializes any outstanding deletion
        # vectors (the rewrite excludes masked rows; removing the old
        # objects retires their vectors on replay)
        df = self._read_live(table, snap, stored, files)
        if zorder_by:
            # per-column bounds as driver-side literals (one agg job):
            # linear quantization keeps the z-value computation a pure
            # projection — no global-window sort, safe at any scale
            bounds_row = df.agg(
                *[F.min(c).alias(f"lo_{c}") for c in zorder_by],
                *[F.max(c).alias(f"hi_{c}") for c in zorder_by],
            ).first()
            bounds = {
                c: (bounds_row[f"lo_{c}"], bounds_row[f"hi_{c}"]) for c in zorder_by
            }
            zcol = _zorder_value(zorder_by, bounds)
            df = (
                df.withColumn("__z", zcol)
                .repartitionByRange(target_files, F.col("__z"))
                .sortWithinPartitions("__z")
                .drop("__z")
            )
        elif cluster_by:
            cols = [F.col(c) for c in cluster_by]
            df = df.repartitionByRange(target_files, *cols).sortWithinPartitions(*cols)
        elif bucket_spec is not None:
            df = self._bucketize(tx, table, df)
        else:
            df = df.coalesce(target_files)
        self._publish_staged(
            tx, table, df, snap, rewrite=True, replaced=[o.name for o in objs]
        )

    # ------------------------------------------------------------------
    # internals
    # ------------------------------------------------------------------

    def restore_table(self, table: str, version: int) -> None:
        """RESTORE the table to its state at committed ``version``.

        Pure metadata: one commit removing the current live objects and
        re-adding version-``version``'s objects (original tx_id stamps,
        so ordering semantics restore exactly) and its deletion-vector
        masks. The restore itself is a new version — restoring is
        undoable by another restore. Requires the restored objects to
        still exist (i.e. not vacuumed past ``version``); like
        :meth:`undrop_table` it RE-REFERENCES objects that are
        unreferenced until the commit lands, so it races a concurrent
        ``vacuum`` (loud failure, never silent — see undrop_table's
        re-reference note; recovery ops and GC share one maintenance
        lane)."""
        tx = self._require_tx()
        old = replay_log(self.store, as_of=version)
        if table not in old.tables:
            raise TableNotFoundError(f"{table} (as of v{version})")
        cur = self._effective_snapshot(tx)
        # Table METADATA restores too (matching Delta's RESTORE): a
        # schema, primary-key, bloom or clustering change made after
        # the target version must not survive the rollback, or restored
        # objects would be read with the wrong schema / future writes
        # would build blooms and layouts the restored schema can't
        # support. The action is AUTHORITATIVE so empty lists CLEAR
        # later declarations instead of silently keeping them.
        if (
            cur.tables.get(table) != old.tables[table]
            or cur.declarations(table) != old.declarations(table)
        ):
            # the HISTORICAL declarations restore wholesale (renames /
            # drops / defaults made after the target version roll back
            # too): the helper reads everything from ``old`` — EXCEPT
            # the IDENTITY high-water mark, which keeps the FURTHEST of
            # the two (Delta's RESTORE does the same): regressing it
            # would re-mint ids that post-restore readers may have
            # already seen in exports, feeds, or downstream joins
            ident_restore = {
                c: dict(v) for c, v in old.identity.get(table, {}).items()
            }
            # resolve each historical identity column to its CURRENT
            # logical name through the PHYSICAL name (stable across
            # renames, like Delta's field ids): a rename made after the
            # target version re-keys cur.identity, and matching by the
            # old logical name would miss the entry and silently
            # regress the mark (re-minting already-issued ids)
            old_phys = old.col_maps.get(table, {})
            cur_by_phys = {
                p: l for l, p in cur.col_maps.get(table, {}).items()
            }
            for c, v in ident_restore.items():
                phys = old_phys.get(c, c)
                cur_name = cur_by_phys.get(phys, phys)
                cur_v = cur.identity.get(table, {}).get(cur_name)
                if cur_v is not None:
                    step = int(v.get("step", 1))
                    further = max if step > 0 else min
                    v["high"] = further(
                        int(v.get("high", int(v["start"]) - step)),
                        int(cur_v.get("high", int(v["start"]) - step)),
                    )
            tx.actions.append(
                self._authoritative_metadata(
                    old, table, old.tables[table], identity=ident_restore
                )
            )
            tx.new_tables[table] = old.tables[table]  # visible pre-commit
        cur_objs = cur.live_map(table)
        old_objs = old.live_map(table)
        for name in cur_objs:
            if name not in old_objs:
                tx.actions.append(RemoveDataObject(name=name, table=table, tx_id=tx.id))
        for name, add in old_objs.items():
            if name not in cur_objs:
                # NOT rewrite-tagged (review catch, r10): these objects
                # are RESURRECTIONS — not live in the pre-commit
                # snapshot — so a concurrent reader that observed their
                # keys' absence must conflict (a restore commit can
                # consist of nothing but re-adds: no removes, no
                # metadata change, nothing else for the checker to
                # see). The copy drops any rw flag a replayed legacy
                # log may have carried onto the snapshot's own object.
                tx.actions.append(dataclasses.replace(add, rewrite=False))
        # DV masks: retire current-only masks, re-add version-V masks.
        # (RemoveDataObject already retires masks of removed objects;
        # surviving objects may need their old masks re-attached and
        # their newer masks dropped — rebuild the masks exactly.)
        cur_dvs = cur.table_dvs(table)
        old_dvs = old.table_dvs(table)
        if cur_dvs != old_dvs:
            # drop every current mask by rewriting nothing: masks attach
            # per object, so reset via remove+re-add of the object
            for name in set(cur_dvs) & set(old_objs):
                if name in cur_objs:  # not already removed above
                    tx.actions.append(
                        RemoveDataObject(name=name, table=table, tx_id=tx.id)
                    )
                    tx.actions.append(
                        dataclasses.replace(old_objs[name], rewrite=True)
                    )
            for name, dv_list in old_dvs.items():
                if name in old_objs:
                    for dv in dv_list:
                        tx.actions.append(
                            AddDeletionVector(
                                table=table,
                                dv_name=dv,
                                objects=[name],
                                tx_id=tx.id,
                            )
                        )

    def compact_sketch(self, table: str) -> DataFrame:
        """``OPTIMIZE SKETCH t``: fold-compaction for sketch tables —
        HLL register tables (``bucket, reg``: groupBy-max) and CMS
        counter tables (``r, c, cnt``: groupBy-sum), detected by
        schema. Estimates are unchanged by construction (the fold IS
        the read-time merge); the table drops back to O(2^p) / O(d·w)
        rows no matter how many streamed batches accumulated. Runs its
        own transaction (VACUUM-style maintenance — call without an
        open tx); returns a 1-row report (table, kind, rows_removed)."""
        from delta_lake_experiment_spark.streaming.sketch import (
            compact_cms_table,
            compact_sketch_table,
        )

        if self.tx is not None:
            raise ExistingTxError(
                "OPTIMIZE SKETCH manages its own transaction - commit or"
                " abort the open one first (VACUUM-style maintenance)"
            )
        self.new_tx()
        try:
            cols = {f.name for f in self.table_schema(table).fields}
        finally:
            self.abort_tx()
        if cols == {"bucket", "reg"}:
            kind, removed = "hll", compact_sketch_table(self, table)
        elif cols == {"r", "c", "cnt"}:
            kind, removed = "cms", compact_cms_table(self, table)
        else:
            raise TypeMismatchError(
                f"{table!r} is not a sketch table (expected columns"
                " (bucket, reg) for HLL or (r, c, cnt) for CMS;"
                f" found {sorted(cols)})"
            )
        return self.spark.createDataFrame(
            [(table, kind, int(removed))],
            "table string, kind string, rows_removed bigint",
        )

    def materialize_dvs(self, table: str, min_masked_fraction: float = 0.5) -> int:
        """Targeted deletion-vector materialization: rewrite only the
        data objects whose masked-row fraction reaches
        ``min_masked_fraction``, retiring their vectors.

        This is the policy that keeps the soft-delete invariant honest
        ("deletion vectors are small"): run it after DV deletes (or on
        a maintenance schedule) and heavily-masked files fold their
        deletes in while lightly-masked files keep their cheap masks.
        Returns the number of objects rewritten."""
        tx = self._require_tx()
        snap = self._effective_snapshot(tx)
        dv_map = snap.table_dvs(table)
        if not dv_map:
            return 0
        counts = dv_fmt.masked_counts(
            self._read_store_parquet(n, columns=[dv_fmt.OBJ])
            for n in snap.dv_names(table, dv_map)
        )
        heavy = [
            o.name
            for o in snap.live_objects(table)
            if o.name in counts
            and o.num_rows
            and counts[o.name] / o.num_rows >= min_masked_fraction
        ]
        if not heavy:
            return 0
        stored = self._stored_schema(self.table_schema(table))
        survivors = self._read_live(
            table, snap, stored, [self.store.path_of(n) for n in heavy]
        )
        self._publish_staged(
            tx,
            table,
            self._bucketize(tx, table, survivors),
            snap,
            rewrite=True,
            replaced=heavy,
        )
        return len(heavy)

    def vacuum(
        self,
        retain_versions: int = 0,
        min_age_seconds: float = 0.0,
        dry_run: bool = False,
    ) -> Union[int, dict]:
        """GC data/DV/bloom-sidecar objects unreferenced by any retained
        snapshot.

        Keeps every object referenced by the last ``retain_versions + 1``
        committed versions; time travel older than that stops working
        (the log records remain, the data objects don't). Also reclaims
        orphans from failed commits. Returns objects deleted.

        ``dry_run=True`` deletes NOTHING and returns the report a real
        run with the same arguments would act on: ``{"objects":
        [{"name", "bytes", "age_seconds"}...], "count", "total_bytes"}``
        — the operational safety check before running GC (Delta's
        ``VACUUM ... DRY RUN``). Sizes/ages are None when the store
        cannot report them.

        ``min_age_seconds`` is the in-flight-writer guard (Delta's
        VACUUM retention check): an unreferenced object younger than
        the threshold is spared, because it may belong to a concurrent
        transaction whose log record is not yet published — data
        objects are always written *before* the commit point, so
        reclaiming them early would corrupt a commit that then
        succeeds. Objects whose age the store cannot report are spared
        whenever a threshold is set (fail-safe). With the default 0,
        everything unreferenced goes — only safe when no writer is
        in flight (e.g. tests, single-writer maintenance windows).

        Cost: ONE log pass. The union of live sets over versions
        [lo, latest] is exactly live(lo) ∪ {objects ADDED after lo} —
        an object removed later in the range was still live at the
        retained version that added it — and the same identity holds
        for deletion vectors, whose references retire with their parent
        objects on replay. So the oldest retained snapshot is replayed
        once (checkpoint-accelerated) and every later log record is
        folded incrementally; each record is read at most once, versus
        one full replay per retained version before.
        """
        if self.tx is not None:
            raise ExistingTxError("vacuum must run outside a transaction")
        import time

        versions = log_versions(self.store)
        latest_version = versions[-1] if versions else 0
        lo = max(1, latest_version - retain_versions)
        try:
            base = replay_log(self.store, as_of=lo)
        except HistoryTruncatedError as e:
            # vacuum_log already reclaimed records below its horizon:
            # snapshots below the reconstructable floor are unreachable
            # by ANY reader, so anchoring the keep-set there retains
            # exactly what any reconstructable version can still
            # reference. e.floor IS that floor (the error carries
            # earliest_reconstructable_version since r12).
            lo = max(int(e.floor), lo)
            base = replay_log(self.store, as_of=lo)
        keep: set[str] = set()

        def _keep_bloom_refs(blooms: dict) -> None:
            # sidecar blooms live and die with their parent data object
            for b in blooms.values():
                if isinstance(b, dict) and "ref" in b:
                    keep.add(b["ref"])

        base.hydrate_all()  # the keep-set must cover EVERY table
        for objs in base.live.values():
            keep.update(objs)
            for add in objs.values():
                _keep_bloom_refs(add.blooms)
        for masked in base.dvs.values():
            for dv_list in masked.values():
                keep.update(dv_list)
        for v in versions:
            if v <= base.version:
                continue
            for a in read_record(self.store, v)["actions"]:
                if "add" in a:
                    keep.add(a["add"]["name"])
                    _keep_bloom_refs(a["add"].get("blooms", {}))
                elif "dv" in a:
                    keep.add(a["dv"]["dv_name"])
        now = time.time()
        cutoff = now - min_age_seconds
        deleted = 0
        report: list[dict] = []
        for prefix in ("table_", "dv_", "bloomf_"):
            for name in self.store.list_prefix_ordered(prefix):
                if name in keep:
                    continue
                mt = self.store.mtime(name)
                if min_age_seconds > 0 and (mt is None or mt > cutoff):
                    continue  # too young or unknown age: spare it
                if dry_run:
                    report.append(
                        {
                            "name": name,
                            "bytes": self.store.size(name),
                            "age_seconds": (now - mt) if mt is not None else None,
                        }
                    )
                    continue
                self.store.delete(name)
                deleted += 1
        if dry_run:
            sizes = [r["bytes"] for r in report if r["bytes"] is not None]
            return {
                "objects": report,
                "count": len(report),
                "total_bytes": sum(sizes) if sizes else 0,
            }
        return deleted

    def vacuum_log(
        self,
        min_age_seconds: float = 7 * 24 * 3600.0,
        dry_run: bool = False,
    ) -> Union[int, dict]:
        """Reclaim log records and checkpoints STRICTLY below the newest
        checkpoint (Delta's ``logRetentionDuration`` cleanup).

        Nothing ever deleted ``_log_`` metadata before this: at
        streaming cadence (one commit per micro-batch for months =>
        10⁶ commits) the log prefix itself becomes the scale-killer —
        ~1 000 S3 LIST pages per snapshot replay and per stream trigger
        even though the checkpoint makes the *reads* O(tail). Replay
        anchors on the newest checkpoint, so records below it are dead
        weight for current-state readers; they only serve time travel,
        which this method bounds to the retention window.

        Safety invariants:

        - Deletion is CHECKPOINT-GRANULAR: the cut is the newest
          checkpoint at or below the oldest commit that must stay
          readable, and everything at/above the cut survives intact.
          That keeps every version inside the retention window
          RECONSTRUCTABLE (its anchor checkpoint and the records
          between survive with it) — per-record sparing would keep
          young records while deleting the older records/checkpoint
          their replay needs, silently breaking the window's promise.
        - The newest checkpoint and every record at or above its
          version are NEVER deleted — current-state replay, streaming
          tails positioned at or above the horizon, and the OCC version
          counter (which replays from that checkpoint, pinning the
          high-water mark so truncated version ids are never reissued)
          are unaffected.
        - ``min_age_seconds`` bounds time travel loss using the commit
          wall-clock recorded IN the records (object-store safe — no
          mtime HEAD storm). In-commit timestamps are monotonic (ICT),
          so the oldest-young commit is found by a BINARY SEARCH —
          O(log history) record reads per pass, not O(history), which
          matters when ``log_retention_seconds`` re-runs this at every
          checkpoint. An unreadable record probes as YOUNG (spares
          more, never deletes more). The default keeps 7 days,
          mirroring Delta.
        - Readers below the horizon fail LOUDLY: replay detects the
          version gap (log versions are dense by construction) and
          raises :class:`HistoryTruncatedError` naming the floor and
          remedy; a stream resuming from below the horizon gets the
          same named error from its planner, never silent row loss.
        - The SQL spelling ``VACUUM LOG`` shadows a table literally
          named ``log`` — vacuum such a table via the Python API
          (``client.vacuum()``).

        ``dry_run=True`` returns the report without deleting. Returns
        the number of objects deleted otherwise.
        """
        if self.tx is not None:
            raise ExistingTxError("vacuum_log must run outside a transaction")
        return self._vacuum_log_inner(min_age_seconds, dry_run)

    def _vacuum_log_inner(
        self, min_age_seconds: float, dry_run: bool
    ) -> Union[int, dict]:
        newest = newest_checkpoint_version(self.store)
        if newest <= 0:
            return {"objects": [], "count": 0} if dry_run else 0
        versions = log_versions(self.store)
        keep_from = newest  # oldest version that must stay readable
        if min_age_seconds > 0 and versions:
            cutoff_us = int((time.time() - min_age_seconds) * 1_000_000)

            def _ts(v: int) -> int:
                try:
                    return int(read_record(self.store, v).get("ts", 0))
                except Exception:
                    # unreadable: probe as YOUNG — spares more history,
                    # never reclaims more
                    return cutoff_us + 1

            # first version with ts > cutoff (ICT-monotonic bisect)
            i = bisect.bisect_right(versions, cutoff_us, key=_ts)
            if i < len(versions):
                keep_from = min(keep_from, versions[i])
        # the cut: newest checkpoint at or below keep_from — everything
        # at/above it survives, so every retained version keeps its
        # anchor checkpoint AND the records between (reconstructable)
        horizon = max(
            (c for c in checkpoint_versions(self.store) if c <= keep_from),
            default=0,
        )
        if horizon <= 0:
            return {"objects": [], "count": 0} if dry_run else 0
        if not dry_run and versions and versions[0] < horizon:
            # about to create the FIRST version gap (or widen one):
            # stamp the truncatedHistory reader feature BEFORE deleting
            # so any client lacking dense-version gap detection fails
            # the named protocol gate instead of silently folding only
            # the surviving tail of the log (VERDICT r11 item 1's
            # mixed-fleet hazard). The stamp commit lands ABOVE the
            # horizon, so it always survives its own vacuum.
            self._commit_protocol_record([FEATURE_TRUNCATED_HISTORY], [])
        deleted = 0
        report: list[dict] = []
        below = [(log_name(v), v) for v in versions if v < horizon] + [
            (checkpoint_name(v), v)
            for v in checkpoint_versions(self.store)
            if v < horizon
        ]
        for name, version in below:
            if dry_run:
                report.append({"name": name, "version": version})
                continue
            self.store.delete(name)
            deleted += 1
        # parquet sidecars retire with their checkpoints (version-
        # prefixed names; also sweeps orphans a crashed checkpointer
        # left below the horizon) — REFERENCE-AWARE: checkpoint part
        # REUSE means a retained checkpoint may reference parts minted
        # by an older (now-reclaimed) checkpoint, so the sweep spares
        # every part a retained checkpoint's live_ref names. The
        # retained payloads are footer-sized JSON (the whole point of
        # sidecars), so this costs one small read per retained
        # checkpoint. An unreadable retained checkpoint makes the
        # reference set unknowable: the sweep SKIPS entirely
        # (conservative — spares more, never reclaims a live part).
        candidates = checkpoint_parts(self.store, below=horizon)
        if not candidates:
            # steady state at streaming cadence: nothing below the
            # horizon -> ZERO reference reads (r12 review finding 4)
            if dry_run:
                return {"objects": report, "count": len(report)}
            return deleted
        referenced: set[str] = set()
        pending = {n for n, _ in candidates}
        retained = [v for v in checkpoint_versions(self.store) if v >= horizon]
        # newest first: a quiet table's reused parts are referenced by
        # every retained checkpoint, so the FIRST read usually proves
        # all candidates live and the scan stops — the full walk only
        # happens when something is genuinely reclaimable
        for version in reversed(retained):
            try:
                # a future-format checkpoint raises too: an empty or
                # partial reference set would sweep parts it still needs
                referenced |= checkpoint_refs(self.store, version)
            except Exception as e:
                # surface the skip (ADVICE r12): an operator must be
                # able to distinguish "nothing reclaimable" from
                # "sweep skipped because a retained checkpoint is
                # unreadable" — otherwise orphaned parts accumulate
                # with no visible cause
                import logging

                logging.getLogger(__name__).warning(
                    "vacuum_log: skipping the checkpoint-part sweep -"
                    " retained checkpoint %s is unreadable (%s); %d"
                    " below-horizon part(s) were spared and will be"
                    " retried next pass",
                    checkpoint_name(version), e, len(candidates),
                )
                if dry_run:
                    return {
                        "objects": report,
                        "count": len(report),
                        "skipped_part_sweep": checkpoint_name(version),
                    }
                return deleted
            pending -= referenced
            if not pending:
                break  # every candidate is referenced: nothing to sweep
        for name, version in candidates:
            if name in referenced:
                continue  # reused by a retained checkpoint: live
            if dry_run:
                report.append({"name": name, "version": version})
                continue
            self.store.delete(name)
            deleted += 1
        if dry_run:
            return {"objects": report, "count": len(report)}
        return deleted

    def _require_tx(self) -> _Tx:
        if self.tx is None:
            raise NoTxError("no transaction open; call new_tx() first")
        return self.tx

    def _parse_ddl(self, ddl: str) -> T.StructType:
        """DDL -> StructType. Flat primitive schemas parse locally
        (no JVM round-trip — and metadata-only clients, e.g. the
        multiprocess commit-layer stress test, need no SparkSession at
        all); anything beyond the simple grammar falls back to Spark's
        own parser.

        Malformed DDL raises the NAMED :class:`TypeMismatchError`
        (parser message attached) instead of leaking Spark's raw
        ``ParseException`` — every declaration defect in the create/
        alter doorways is wrapped, and this parse was the one unwrapped
        doorway (VERDICT r14 #3): callers catching the exported error
        surface would miss it."""
        local = _parse_ddl_local(ddl)
        if local is not None:
            return local
        try:
            return T.StructType.fromDDL(ddl)
        except ParseException as e:
            # ONLY the parser's verdict is relabeled: an environment
            # failure (no active session, dead JVM) must keep its own
            # type and traceback, or the operator debugs the schema
            # string instead of the session (r15 review catch)
            raise TypeMismatchError(
                f"invalid column DDL {ddl!r}: {e}"
            ) from None

    def _stored_schema(self, schema: T.StructType) -> T.StructType:
        return T.StructType(
            list(schema.fields)
            + [T.StructField(TX_COL, T.LongType()), T.StructField(IDX_COL, T.LongType())]
        )

    def _source_key_bounds(
        self, src: DataFrame, table: str, keys: list[str]
    ) -> tuple[Optional[dict], bool]:
        """(prune dict, any-non-null-keys) for a MERGE source: per-key
        [min, max] bounds from one agg job over the persisted source,
        restricted to types the file-stats system encodes (numeric /
        string / temporal). Returns (None, True) when no key column is
        stats-prunable (merge degrades to the unpruned full file list)
        and (None, False) when the source has no non-NULL key rows (no
        file can match — callers skip the table read)."""
        schema = self.table_schema(table)
        types = {f.name: f.dataType for f in schema.fields}
        prunable = (
            T.ByteType, T.ShortType, T.IntegerType, T.LongType,
            T.FloatType, T.DoubleType, T.StringType,
            T.TimestampType, T.DateType,
        )
        cols = [k for k in keys if isinstance(types.get(k), prunable)]
        if not cols:
            # still need the NULL-source probe for correctness parity
            n = src.select(*keys).dropna(how="any").limit(1).count()
            return None, bool(n)

        def _bound(k, side):
            agg = F.min(k) if side == "lo" else F.max(k)
            if isinstance(types[k], T.TimestampType):
                # Row-level timestamps come back OS-LOCAL-naive (PySpark
                # fromInternal), but the stats comparator reads naive
                # bounds as UTC — extract epoch micros engine-side and
                # rebuild a naive-UTC datetime so a non-UTC driver
                # cannot skew the prune range by its zone offset
                return F.unix_micros(agg)
            return agg

        row = src.agg(
            *[_bound(k, "lo").alias(f"lo_{i}") for i, k in enumerate(cols)],
            *[_bound(k, "hi").alias(f"hi_{i}") for i, k in enumerate(cols)],
        ).first()

        def _py(k, v):
            if v is not None and isinstance(types[k], T.TimestampType):
                return datetime.datetime.fromtimestamp(
                    v / 1_000_000, tz=datetime.timezone.utc
                ).replace(tzinfo=None)
            return v

        pr = {
            k: (_py(k, row[f"lo_{i}"]), _py(k, row[f"hi_{i}"]))
            for i, k in enumerate(cols)
            if row[f"lo_{i}"] is not None
        }
        if not pr:
            return None, False
        return pr, True

    # a CDC-sized source's distinct keys fit on the driver; above this
    # the bucket cut is skipped (range + stats pruning still apply)
    _MERGE_BUCKET_KEYS_MAX = 10_000

    def _source_bucket_ids(
        self, src: DataFrame, table: str, keys: list[str], snap: Snapshot
    ) -> "Optional[set[int]]":
        """Exact bucket ids a MERGE source can touch, or None when the
        cut does not apply. Applies when the table's bucket columns are
        a subset of the merge keys and the source's DISTINCT bucket-key
        tuples fit under the cap: each tuple hashes driver-side with
        the JVM-certified murmur3 (plans/bucketing.py), and matches can
        only live in those buckets — an exact O(k/n) file cut that
        min/max bounds cannot give for scattered point keys. NULL
        tuples are skipped (NULL never matches an equi-join);
        unsupported key types return None (skipping is always safe,
        guessing never is)."""
        spec = snap.bucket_specs.get(table)
        if not spec or not set(spec["cols"]) <= set(keys):
            return None
        cols = list(spec["cols"])
        schema = self.table_schema(table)
        dtypes = {c: schema[c].dataType for c in cols}
        types = [dtypes[c].simpleString() for c in cols]
        cap = self._MERGE_BUCKET_KEYS_MAX
        # timestamp keys: collect() returns OS-LOCAL-naive datetimes
        # (PySpark fromInternal) but the driver-side murmur3 reads naive
        # as UTC-epoch — extract epoch micros engine-side and rebuild
        # naive-UTC, same normalization as _source_key_bounds (a wrong
        # hash here would be a SILENTLY wrong merge, not a slow one)
        sel = [
            F.unix_micros(F.col(c)).alias(c)
            if isinstance(dtypes[c], T.TimestampType)
            else F.col(c)
            for c in cols
        ]
        tuples = src.select(*sel).distinct().limit(cap + 1).collect()
        if len(tuples) > cap:
            return None
        from delta_lake_experiment_spark.plans.bucketing import bucket_id_for

        def _py(c, v):
            if v is not None and isinstance(dtypes[c], T.TimestampType):
                return datetime.datetime.fromtimestamp(
                    v / 1_000_000, tz=datetime.timezone.utc
                ).replace(tzinfo=None)
            return v

        out: set[int] = set()
        for row in tuples:
            vals = [_py(c, row[c]) for c in cols]
            if any(v is None for v in vals):
                continue
            bid = bucket_id_for(vals, types, int(spec["n"]))
            if bid is None:
                return None  # unsupported type: no cut
            out.add(bid)
        return out

    # -- column mapping (rename/drop as O(1) metadata) ------------------

    @staticmethod
    def _rename_map(snap: Snapshot, table: str) -> dict[str, str]:
        """The table's non-identity logical->physical entries (empty =
        files carry the logical names and no translation is needed)."""
        return {
            l: p for l, p in snap.col_maps.get(table, {}).items() if l != p
        }

    @staticmethod
    def _phys_schema(schema: T.StructType, pmap: dict[str, str]) -> T.StructType:
        """``schema`` with field names translated to physical (engine
        stamp columns and unmapped names pass through)."""
        if not pmap:
            return schema
        return T.StructType(
            [
                T.StructField(pmap.get(f.name, f.name), f.dataType, f.nullable)
                for f in schema.fields
            ]
        )

    def _to_physical(
        self,
        tx: "_Tx",
        table: str,
        df: DataFrame,
        snap: Optional[Snapshot] = None,
    ) -> DataFrame:
        """Rename a staged frame's logical columns to their physical
        (in-file) names — the write-side half of column mapping, applied
        as the LAST projection before every staging parquet write. Stamp
        columns pass through; a pure-identity map is a no-op. Pass the
        caller's ``snap`` when one is in scope — _effective_snapshot is
        an O(snapshot) copy+replay, too heavy to repeat per staged
        frame just to discover an empty rename map."""
        pmap = self._rename_map(
            snap if snap is not None else self._effective_snapshot(tx), table
        )
        if not pmap:
            return df
        return df.select(*[F.col(c).alias(pmap.get(c, c)) for c in df.columns])

    def _apply_defaults(
        self, snap: Snapshot, table: str, df: DataFrame, stored: T.StructType
    ) -> DataFrame:
        """existingDefault substitution: for each defaulted column, rows
        STAMPED before the column's birth tx read the default wherever
        the column is NULL. A pure ``_tx_id``-gated projection — zero
        data written at ALTER time, and rewrite-stable because COW
        rewrites preserve stamps and materialize the value they read."""
        dmap = snap.defaults.get(table, {})
        if not dmap:
            return df
        cols = {}
        types = {f.name: f.dataType for f in stored.fields}
        for name, d in dmap.items():
            if name not in types:
                continue
            cols[name] = F.when(
                F.col(TX_COL) < int(d["birth"]),
                F.coalesce(F.col(name), F.lit(d["v"]).cast(types[name])),
            ).otherwise(F.col(name))
        return df.withColumns(cols) if cols else df

    @staticmethod
    def _prune_physical(
        snap: Snapshot, table: str, prune: Optional[dict]
    ) -> Optional[dict]:
        """Prune-dict keys translated logical->physical: per-object
        stats and blooms are keyed by the names IN the files, which are
        the physical names from the moment the object was written."""
        if not prune:
            return prune
        m = snap.col_maps.get(table)
        if not m:
            return prune
        return {m.get(c, c): v for c, v in prune.items()}

    @staticmethod
    def _col_pos(schema: T.StructType, column: str) -> int:
        for i, f in enumerate(schema.fields):
            if f.name == column:
                return i
        raise TableNotFoundError(f"no such column: {column}")

    @staticmethod
    def _check_range_types(
        schema: T.StructType, column: str, start: Any, end: Any
    ) -> tuple[Any, Any]:
        """Reference parity: range predicates are type-checked; a bound
        whose type can't compare against the column raises
        TypeMismatchError (writes.go:85-86). Returns the (start, end)
        bounds with string literals on Timestamp/Date columns coerced to
        datetime/date — the SQL DML grammar produces plain strings for
        temporal bounds, and every downstream consumer (buffer
        tombstoning, file-stat pruning, the Spark predicate) needs the
        typed value to compare correctly."""
        dt = schema[column].dataType if column in schema.fieldNames() else None
        if dt is None:
            raise TableNotFoundError(f"no such column: {column}")
        numeric = (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.FloatType, T.DoubleType, T.DecimalType)
        out = []
        for bound in (start, end):
            if isinstance(dt, numeric):
                if isinstance(bound, bool) or not isinstance(bound, (int, float)):
                    raise TypeMismatchError(f"{column}: numeric column, bound {bound!r}")
            elif isinstance(dt, T.StringType):
                if not isinstance(bound, str):
                    raise TypeMismatchError(f"{column}: string column, bound {bound!r}")
            elif isinstance(dt, (T.TimestampType, T.TimestampNTZType, T.DateType)):
                if isinstance(bound, str):
                    try:
                        bound = datetime.datetime.fromisoformat(bound)
                    except ValueError:
                        raise TypeMismatchError(
                            f"{column}: temporal column, unparseable bound {bound!r}"
                        )
                if isinstance(dt, T.DateType):
                    if isinstance(bound, datetime.datetime):
                        bound = bound.date()
                    elif not isinstance(bound, datetime.date):
                        raise TypeMismatchError(f"{column}: date column, bound {bound!r}")
                elif not isinstance(bound, datetime.datetime):
                    raise TypeMismatchError(f"{column}: timestamp column, bound {bound!r}")
            out.append(bound)
        return out[0], out[1]

    def _effective_snapshot(self, tx: _Tx) -> Snapshot:
        """Snapshot + this tx's own actions (deletes/writes visible to
        self immediately, to others only after commit)."""
        snap = tx.snapshot.copy()
        snap.apply(tx.id, tx.actions)
        snap.tables.update(tx.new_tables)
        return snap

    def _read_live(
        self,
        table: str,
        snap: Snapshot,
        stored: T.StructType,
        files: list[str],
        with_pos: bool = False,
        record: bool = False,
    ) -> DataFrame:
        """Read live data objects with deletion vectors applied.

        Rows of masked objects anti-join against the (obj, row_idx)
        mask via the Parquet reader's ``_metadata.row_index`` — no
        rewrite needed to make a soft delete visible. The mask is
        broadcast: deletion vectors are small by design (compaction
        materializes them before they grow). ``with_pos=True`` keeps
        ``__obj``/``__ridx`` position columns on the result (the
        ``_metadata`` pseudo-column itself is only resolvable on the
        scan relation, so positions must be captured here).

        Column mapping: files carry PHYSICAL names, so the read schema
        is the physical one and the result is aliased back to logical
        as the final projection (after the ``_metadata`` captures,
        which only resolve on the scan relation)."""
        if record and self.tx is not None:
            # commit-time conflict resolution consults this read set;
            # recorded at plan-build (the file list is fixed here, so
            # laziness cannot under-record). Time-travel / change-feed
            # reads of pinned committed ranges pass record=False — a
            # concurrent writer cannot invalidate immutable history.
            self.tx.read_files.setdefault(table, set()).update(files)
        pmap = self._rename_map(snap, table)

        def _logical(d: DataFrame, extra: tuple = ()) -> DataFrame:
            if pmap:
                d = d.select(
                    *[
                        F.col(pmap.get(f.name, f.name)).alias(f.name)
                        for f in stored.fields
                    ],
                    *[F.col(c) for c in extra],
                )
            return self._apply_defaults(snap, table, d, stored)

        df = self.spark.read.schema(self._phys_schema(stored, pmap)).parquet(*files)
        dv_names = snap.dv_names(table, (_basename_of_uri(p) for p in files))
        if not dv_names and not with_pos:
            return _logical(df)
        df = dv_fmt.with_positions(
            df, F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1)
        )
        if dv_names:
            mask = dv_fmt.mask_frame(
                self.spark, [self.store.path_of(n) for n in dv_names]
            )
            df = dv_fmt.mask_join(df, F.broadcast(mask), "left_anti")
        return _logical(df, dv_fmt.POS) if with_pos else _logical(df.drop(*dv_fmt.POS))

    def flush_buffer(self, table: str) -> None:
        """Flush the table's buffered rows as data object(s) without
        committing — the remedy scan_bucketed's unflushed-buffer raise
        names (a bucketed scan cannot union driver-side rows without
        destroying the partitioning). Commit still publishes the log
        record; this just moves the rows from the buffer into staged
        objects of the OPEN transaction."""
        self._require_tx()
        self._flush_buffer(table)

    def _flush_buffer(self, table: str) -> None:
        """Write the buffer (minus tombstones) as one Parquet object via
        pyarrow driver-side — row-at-a-time writes are a driver-local
        convenience; bulk data takes :meth:`write_dataframe`."""
        tx = self._require_tx()
        buf = tx.buffers.get(table) or []
        rows = [(idx, row) for idx, row in buf if row is not None]
        tx.buffers[table] = []
        if not rows:
            return
        schema = self.table_schema(table)
        stored = self._stored_schema(schema)
        snap = self._effective_snapshot(tx)
        if (
            self._bucket_spec(tx, table) is not None
            or snap.checks.get(table)
        ):
            # bucketed tables: a mixed-bucket driver file would break
            # the per-object bucket labels, so even row-at-a-time
            # flushes route through the bucketized Spark staging path
            # (up to n small files per flush — the documented cost of
            # trickle-writing a bucketed table; bulk ingest is the
            # intended path). CHECKED tables take the same route: the
            # constraint enforcement lives in the staging funnel
            # (_bucketize), and a driver-side pyarrow write would
            # bypass it
            stamped = self.spark.createDataFrame(
                [list(row) + [tx.id, idx] for idx, row in rows], stored
            )
            # buffered rows are positional, so a GENERATED column is
            # always "present": None means "not supplied" and computes
            # here (the implicit CHECK then validates trivially);
            # non-None values go through the CHECK like any frame write
            for gcol, gexpr in snap.generated.get(table, {}).items():
                stamped = stamped.withColumn(
                    gcol,
                    F.coalesce(
                        F.col(gcol),
                        F.expr(gexpr).cast(stored[gcol].dataType),
                    ),
                )
            self._publish_staged(tx, table, self._bucketize(tx, table, stamped), snap)
            return
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        # driver-side pyarrow writes stage under PHYSICAL names too —
        # same contract as every Spark staging write
        pmap = self._rename_map(snap, table)
        arrow_schema = to_arrow_schema(self._phys_schema(stored, pmap))
        cols: dict[str, list[Any]] = {
            pmap.get(f.name, f.name): [] for f in stored.fields
        }
        for idx, row in rows:
            for f, v in zip(schema.fields, row):
                cols[pmap.get(f.name, f.name)].append(v)
            cols[TX_COL].append(tx.id)
            cols[IDX_COL].append(idx)
        batch = pa.table(
            {name: pa.array(vals, type=arrow_schema.field(name).type) for name, vals in cols.items()},
            schema=arrow_schema,
        )
        with self._staging_dir() as staging:
            tmp = os.path.join(staging, "obj.parquet")
            pq.write_table(batch, tmp)
            self._register_object(table, tx, tmp)

    def _identity_spec(self, tx: "_Tx", table: str) -> dict[str, dict]:
        """The table's IDENTITY declarations as visible to this tx
        (snapshot + this tx's own metadata actions), WITHOUT an
        O(snapshot) effective-snapshot copy — write_row calls this per
        row, so the actions walk is INCREMENTAL: each action is scanned
        once per tx (a full rescan per row is quadratic against the
        AddDataObject actions buffer flushes append — review catch,
        r11)."""
        idx, spec = tx.ident_cache.get(table, (0, None))
        actions = tx.actions
        for i in range(idx, len(actions)):
            a = actions[i]
            if isinstance(a, ChangeMetadata) and a.table == table:
                if a.identity or a.authoritative:
                    spec = a.identity
        tx.ident_cache[table] = (len(actions), spec)
        if spec is None:
            spec = tx.snapshot.identity.get(table, {})
        return spec or {}

    def _alloc_identity(
        self, tx: "_Tx", table: str, col: str, spec: dict, n: int
    ) -> int:
        """Allocate ``n`` consecutive identity values; returns the first.

        A RESERVED block (:meth:`reserve_identity`) is consumed first:
        the committed mark already covers it, so the commit carries no
        advance record and never serializes against concurrent
        allocators. Blocks are lineage-checked (a block reserved
        against a since-dropped incarnation of the name is discarded —
        minting it into the recreate could duplicate fresh ids) and a
        block too small for the whole call is retired (gaps are
        in-contract, Delta's identity shape).

        Otherwise the tx-local mark continues the snapshot's
        high-water mark; the commit publishes the advance as an
        authoritative metadata record, so concurrent allocators
        conflict (first-committer-wins) and the retry re-reads a fresh
        mark — ids are never reused."""
        key = (table, col)
        step = int(spec["step"])
        if key not in tx.identity_hwm:
            # pool values sit BELOW the snapshot mark: once this tx has
            # minted above it (hwm path engaged), switching back would
            # break insertion-order ascent — consume pool only before
            pool = self._ident_blocks.get(key)
            lineage = tx.snapshot.born.get(table)
            while pool:
                first, last, born = pool[0]
                if born != lineage:
                    pool.pop(0)  # stale lineage: never mint it
                    continue
                avail = (last - first) // step + 1
                if avail < n:
                    pool.pop(0)  # too small for this call: retire it
                    continue
                if avail == n:
                    pool.pop(0)
                else:
                    pool[0] = (first + step * n, last, born)
                if not pool:
                    self._ident_blocks.pop(key, None)
                return first
            if pool is not None and not pool:
                self._ident_blocks.pop(key, None)
        high = tx.identity_hwm.get(key)
        if high is None:
            high = int(spec.get("high", int(spec["start"]) - step))
        tx.identity_hwm[key] = high + step * n
        return high + step

    def _advance_identity(
        self, tx: "_Tx", table: str, pending: dict[str, tuple[int, int]], base: int
    ) -> None:
        """Record the bulk path's identity consumption: values were
        minted as ``high0 + step * (idx - base + 1)`` off the same
        ``_row_idx`` stamps whose exact maximum the staging stats pass
        already derives, so the advance is exact at any partition count
        (gaps from monotonically_increasing_id's partition bits are
        allowed — Delta's identity contract — and stay reserved).

        Columns that arrived WITH supplied values (BY DEFAULT) advance
        by what actually MINTED, answered by the staged-stats probe:
        zero minted cells -> no advance at all (no authoritative
        metadata record, so a supplied-only bulk write or MERGE stops
        conflicting with concurrent allocators — a free availability
        win), otherwise the advance is sized by the furthest minted
        stamp, not the frame's full span (VERDICT r11 item 2)."""
        probe = tx.ident_probe.pop(table, {})
        if not pending:
            return
        max_idx = tx.next_idx.get(table, base) - 1
        span = max_idx - base + 1
        if span <= 0:
            return
        for icol, (high0, step) in pending.items():
            if icol in probe:
                n, mint_max = tx.ident_minted.pop((table, icol), (0, None))
                if n <= 0 or mint_max is None:
                    continue  # nothing minted: the mark holds
                tx.identity_hwm[(table, icol)] = high0 + step * (
                    int(mint_max) - base + 1
                )
            else:
                tx.identity_hwm[(table, icol)] = high0 + step * span

    def _emit_identity_advances(self, tx: "_Tx") -> None:
        """Append one authoritative metadata record per table whose
        identity high-water mark this tx advanced (called from
        commit_tx after the buffer flushes). The record is what makes
        allocation safe under OCC: any same-table interleave now
        conflicts at commit and the retry re-allocates."""
        if not tx.identity_hwm:
            return
        by_table: dict[str, dict[str, int]] = {}
        for (t, c), high in tx.identity_hwm.items():
            by_table.setdefault(t, {})[c] = int(high)
        snap = self._effective_snapshot(tx)
        for t, cols in by_table.items():
            ident = {c: dict(v) for c, v in snap.identity.get(t, {}).items()}
            changed = False
            for c, high in cols.items():
                if c in ident and ident[c].get("high") != high:
                    ident[c]["high"] = high
                    changed = True
            if changed:
                # ident_only: readers whose shape cannot depend on the
                # mark (the streaming source) skip this record instead
                # of treating every insert as a schema change
                tx.actions.append(
                    self._authoritative_metadata(
                        snap, t, snap.tables[t], identity=ident, ident_only=True
                    )
                )
        tx.identity_hwm.clear()

    def _stamp_protocol(self, tx: "_Tx") -> None:
        """Append a protocol-upgrade action when this commit FIRST uses
        a gated table feature (Delta stamps protocol on first feature
        use the same way). Derivation is a single pass over the tx's
        own actions; nothing is appended when the snapshot's protocol
        already covers everything, so steady-state commits pay one set
        comparison. See plans/protocol.py for the feature registry."""
        need_rf: set[str] = set()
        need_wf: set[str] = set()
        for a in tx.actions:
            if isinstance(a, ChangeMetadata):
                # ident_only advances included deliberately: identity
                # columns born on a pre-protocol log get stamped at
                # first ALLOCATION rather than never
                if a.identity:
                    need_wf.add(FEATURE_IDENTITY_COLUMNS)
                if a.ident_only:
                    continue
                if a.generated:
                    need_wf.add(FEATURE_GENERATED_COLUMNS)
                if a.checks:
                    need_wf.add(FEATURE_CHECK_CONSTRAINTS)
                if a.col_defaults:
                    need_rf.add(FEATURE_COLUMN_DEFAULTS)
                    need_wf.add(FEATURE_COLUMN_DEFAULTS)
                if a.retired_phys or any(
                    l != p for l, p in a.column_map.items()
                ):
                    need_rf.add(FEATURE_COLUMN_MAPPING)
                    need_wf.add(FEATURE_COLUMN_MAPPING)
            elif isinstance(a, AddDeletionVector):
                need_rf.add(FEATURE_DELETION_VECTORS)
                need_wf.add(FEATURE_DELETION_VECTORS)
            elif isinstance(a, DropTable):
                # normally pre-stamped by drop_table in an earlier
                # commit (so the gate folds before the record) — this
                # is the safety net for a drop action reaching commit
                # any other way
                need_rf.add(FEATURE_DROP_TABLE)
                need_wf.add(FEATURE_DROP_TABLE)
        miss_rf = need_rf - set(tx.snapshot.protocol["rf"])
        miss_wf = need_wf - set(tx.snapshot.protocol["wf"])
        if miss_rf or miss_wf:
            tx.actions.append(
                Protocol(
                    reader_features=sorted(miss_rf),
                    writer_features=sorted(miss_wf),
                )
            )

    def upgrade_protocol(
        self,
        reader_features: "Optional[list[str]]" = None,
        writer_features: "Optional[list[str]]" = None,
    ) -> dict[str, list[str]]:
        """Explicitly raise the log's protocol (Delta's ALTER TABLE
        protocol-upgrade pattern): pre-stamp features BEFORE a fleet
        migration starts using them, so stragglers fail the named gate
        up front instead of mid-rollout. Only features THIS build
        implements can be stamped (you cannot require what you cannot
        honor); unknown names raise ``TypeMismatchError`` listing the
        valid registry. Monotone and idempotent — features never
        downgrade, re-stamping is a no-op. Runs outside a transaction
        (the protocol is log-wide shared metadata, like vacuum).
        Returns the folded protocol after the upgrade."""
        from delta_lake_experiment_spark.plans.protocol import (
            supported_reader_features,
            supported_writer_features,
        )

        if self.tx is not None:
            raise ExistingTxError(
                "upgrade_protocol must run outside a transaction"
            )
        rf = sorted(set(reader_features or []))
        wf = sorted(set(writer_features or []))
        bad_rf = sorted(set(rf) - supported_reader_features())
        bad_wf = sorted(set(wf) - supported_writer_features())
        if bad_rf or bad_wf:
            raise TypeMismatchError(
                f"cannot stamp features this client does not implement"
                f" (reader: {bad_rf}, writer: {bad_wf}); supported"
                f" reader={sorted(supported_reader_features())},"
                f" writer={sorted(supported_writer_features())}"
            )
        self._commit_protocol_record(rf, wf)
        return self._current_snapshot()[0].copy().protocol

    def _commit_protocol_record(self, rf: list, wf: list) -> None:
        """Commit a standalone protocol-upgrade log record (used by
        ``vacuum_log`` to stamp ``truncatedHistory`` BEFORE the first
        truncation — upgrading outside any data transaction, the way
        Delta's ALTER TABLE ... SET protocol upgrades commit). No-op
        when the log already carries the features."""
        for _ in range(8):
            snap = self._current_snapshot()[0].copy()
            if set(rf) <= set(snap.protocol["rf"]) and set(wf) <= set(
                snap.protocol["wf"]
            ):
                return
            proto = Protocol(reader_features=sorted(rf), writer_features=sorted(wf))
            now_us = int(self._clock() * 1_000_000)
            record = encode_record(snap.version + 1, [proto], now_us, snap.last_ts)
            try:
                self.store.put_if_absent(log_name(snap.version + 1), record)
                return
            except ObjectExistsError:
                continue  # collided: re-resolve (someone may have stamped)
        raise ConcurrentCommitError(
            "could not commit protocol upgrade record after 8 attempts"
        )

    def reserve_identity(
        self, table: str, column: str, n: int, retries: int = 8
    ) -> tuple[int, int]:
        """Reserve a BLOCK of ``n`` identity values for this client
        (opt-in; VERDICT r12 item 3).

        The default identity contract serializes concurrent allocators:
        every allocating commit carries an authoritative high-water
        advance, so two writers minting into one table conflict and
        retry — safe, but a 32-writer ingest into one identity table
        commits one at a time. A reservation moves the serialization
        OFF the data path: this method commits ONE advance of
        ``step * n`` (the only moment it can conflict, and the retry
        loop here absorbs that), and every subsequent ``write_row``
        ingest minting from the block commits with NO advance record —
        concurrent block holders never conflict on identity metadata,
        and uniqueness is by construction (blocks are disjoint: each
        reservation advances the committed mark past the last).

        Returns ``(first, last)`` of the reserved range. The block is
        CLIENT-LOCAL state: a crashed or idle client's unminted
        remainder becomes an id gap (in-contract — Delta's identity
        allocation has the same gap semantics; ``monotonically_
        increasing_id``'s partition bits already create far larger
        ones). Blocks are lineage-checked against DROP+recreate, and
        the serialized default is UNCHANGED for writers that never
        reserve. Bulk ``write_dataframe`` ingest keeps the per-commit
        advance regardless: its executor-side minting rides ``_row_idx``
        stamps whose partition-bit gaps make the consumed span
        unpredictable, so bounding it inside a fixed block up front is
        impossible — reserve for row-buffered ingest (the reference's
        W1 lane), where allocation is dense and driver-side.

        Runs OUTSIDE a transaction (like :meth:`upgrade_protocol`):
        the advance must be durably committed before anything mints
        from the block.
        """
        if self.tx is not None:
            raise ExistingTxError(
                "reserve_identity must run outside a transaction (the"
                " advance must commit before the block is minted from)"
            )
        if n < 1:
            raise TypeMismatchError(f"reserve_identity n={n!r} must be >= 1")

        def _attempt(c):
            tx = c.tx
            snap = c._effective_snapshot(tx)
            ident = snap.identity.get(table)
            if not ident or column not in ident:
                raise TypeMismatchError(
                    f"table {table!r} has no IDENTITY column {column!r}"
                )
            spec = ident[column]
            step = int(spec["step"])
            high = int(spec.get("high", int(spec["start"]) - step))
            updated = {c2: dict(v) for c2, v in ident.items()}
            updated[column]["high"] = high + step * n
            tx.actions.append(
                self._authoritative_metadata(
                    snap, table, snap.tables[table], identity=updated,
                    ident_only=True,
                )
            )
            return (high + step, high + step * n, snap.born.get(table))

        first, last, born = self.run_tx(_attempt, retries=retries)
        self._ident_blocks.setdefault((table, column), []).append(
            (first, last, born)
        )
        return (first, last)

    def sync_identity(self, table: str) -> dict[str, int]:
        """``ALTER TABLE t SYNC IDENTITY`` (Delta's): lift each identity
        column's high-water mark to the FURTHEST stored value when
        manual BY DEFAULT inserts (or a merge) wrote past it, so future
        minted ids never collide with supplied ones. One aggregation
        job over the table (max or min per identity column by step
        direction); the mark only ever moves FURTHER — a table whose
        stored extreme trails the mark keeps the mark (reserved ranges
        stay reserved). Returns {column: new high}."""
        tx = self._require_tx()
        snap = self._effective_snapshot(tx)
        ident = snap.identity.get(table)
        if not ident:
            raise TypeMismatchError(f"table {table!r} has no IDENTITY columns")
        aggs = []
        for c, v in ident.items():
            fn = F.max if int(v["step"]) > 0 else F.min
            aggs.append(fn(F.col(c)).alias(c))
        row = self.scan(table, with_stamps=False).agg(*aggs).collect()[0]
        new_marks: dict[str, int] = {}
        updated = {c: dict(v) for c, v in ident.items()}
        changed = False
        for c, v in updated.items():
            step = int(v["step"])
            cur = int(v.get("high", int(v["start"]) - step))
            stored = row[c]
            further = max if step > 0 else min
            high = further(cur, int(stored)) if stored is not None else cur
            new_marks[c] = high
            if high != cur:
                v["high"] = high
                changed = True
        if changed:
            tx.actions.append(
                self._authoritative_metadata(
                    snap, table, snap.tables[table], identity=updated,
                    ident_only=True,
                )
            )
            # tx-local allocations restart from the lifted mark
            for c, high in new_marks.items():
                if (table, c) in tx.identity_hwm:
                    step = int(updated[c]["step"])
                    further = max if step > 0 else min
                    tx.identity_hwm[(table, c)] = further(
                        tx.identity_hwm[(table, c)], high
                    )
        return new_marks

    def _bucket_spec(self, tx: "_Tx", table: str) -> Optional[tuple[list[str], int]]:
        """(bucket_cols, n) for a bucketed table, else None."""
        spec = self._effective_snapshot(tx).bucket_specs.get(table)
        if spec is None:
            return None
        return list(spec["cols"]), int(spec["n"])

    def _bucketize(self, tx: "_Tx", table: str, df: DataFrame) -> DataFrame:
        """Hash-distribute ``df`` into the table's declared bucket
        layout (no-op for unbucketed tables). ``repartition(n, cols)``
        is HashPartitioning(cols, n), whose partition index is exactly
        Spark's bucket id expression ``pmod(murmur3(cols), n)`` — the
        same function the catalog bucketed-table reader assumes of
        files labeled ``_NNNNN``, so partition i of this write IS
        bucket i. (AQE never coalesces an explicit-count repartition,
        so the index→bucket mapping is stable.) Callers of
        _publish_staged apply it to the frames they stage, which is
        what keeps the layout true across the table's whole lifecycle;
        the driver-side pyarrow rewrite instead carries the source
        object's label (a row subset stays in its bucket). The
        correctness pytest joins the bucketed scan against a plain
        scan to catch any divergence in the hash contract itself.

        This is also the CHECK-constraint enforcement point: a staged
        frame passes the table's declared checks in-plan (a codegen'd
        ``when`` wrap on the first column — no extra pass), so no file
        written while a constraint is active can violate it.
        Clustered ingest, which skips the bucket layout, calls
        _enforce_checks directly."""
        df = self._enforce_checks(tx, table, df)
        spec = self._bucket_spec(tx, table)
        if spec is None:
            return df
        cols, n = spec
        return df.repartition(n, *[F.col(c) for c in cols])

    def _enforce_checks(self, tx: "_Tx", table: str, df: DataFrame) -> DataFrame:
        """Wrap ``df`` so any row violating a declared CHECK raises
        in-plan at write time (NULL check results count as violations,
        the SQL-standardly surprising part Delta also rejects). The
        raise rides the first column's projection — whole-stage
        codegen, no extra scan, no driver round-trip."""
        checks = self._effective_snapshot(tx).checks.get(table)
        if not checks:
            return df
        first = df.columns[0]
        wrapped = F.col(first)
        for name in sorted(checks, reverse=True):
            wrapped = F.when(
                F.coalesce(F.expr(checks[name]), F.lit(False)), wrapped
            ).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            f"CHECK constraint {name!r} violated"
                            f" ({checks[name]}) by row with {first}="
                        ),
                        F.coalesce(F.col(first).cast("string"), F.lit("NULL")),
                    )
                )
            )
        return df.withColumn(first, wrapped.alias(first))

    def _write_parquet_staging(self, df: DataFrame, path: str) -> None:
        """Every engine Parquet write goes through here. The session is
        pinned to TIMESTAMP_MICROS at client construction (footer stats
        for timestamp columns — INT96 writes none); re-assert rather
        than mutate-and-restore, which would race concurrent writes
        through the same SparkSession (ADVICE r2)."""
        key = "spark.sql.parquet.outputTimestampType"
        if self.spark.conf.get(key) != "TIMESTAMP_MICROS":
            self.spark.conf.set(key, "TIMESTAMP_MICROS")
        df.write.mode("overwrite").parquet(path)

    def _read_store_parquet(self, name: str, columns: Optional[list] = None):
        """Driver-side pyarrow read of one STORE object. Local stores go
        through the filesystem path; remote stores (whose ``path_of``
        returns an s3a:// URI pyarrow cannot open) fetch the object
        bytes via the storage API instead — so the driver fast paths
        (small COW deletes, DV reads, materialization policy) work on
        every backend, not just local FS."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        if getattr(self.store, "root", None) is not None:
            src = self.store.path_of(name)
        else:
            src = pa.BufferReader(self.store.read(name))
        # one file needs no dataset discovery: ParquetFile reads it
        # ~4x faster than pq.read_table on footer-sized objects
        with pq.ParquetFile(src) as f:
            return f.read(columns=columns)

    def _maybe_sidecar_blooms(self, blooms: dict[str, dict]) -> dict[str, dict]:
        """Spill oversized bloom bitsets to sidecar objects
        (``bloomf_<uuid>``), leaving a {"ref": name} in the add action.
        Keeps log records and checkpoints footer-sized at any file
        count (Delta's sidecar pattern); small blooms stay inline.
        VACUUM reclaims sidecars with their parent data objects."""
        from delta_lake_experiment_spark.plans.bloom import SIDECAR_THRESHOLD_B64

        out: dict[str, dict] = {}
        for col, b in blooms.items():
            if len(b.get("b64", "")) > SIDECAR_THRESHOLD_B64:
                name = f"bloomf_{uuid.uuid4().hex}"
                self.store.put_if_absent(name, json.dumps(b).encode())
                out[col] = {"ref": name}
            else:
                out[col] = b
        return out

    def _register_staging(
        self, table: str, tx: _Tx, staging: str, rewrite: bool = False
    ) -> Optional[int]:
        """Register every staged Parquet file as a data object; returns
        the max ``_row_idx`` stamp among them (None if nothing staged).

        When the table declares bloom columns, per-file stats, blooms
        and the max stamp all come from ONE distributed aggregation
        over the staged directory (``_staged_stats_distributed`` is
        store-agnostic — staged files are Spark-readable locally too),
        so ingest never reads data columns through the driver: at 100×
        ingest the driver handles only footer-sized stats rows and
        bloom bitsets. Without blooms, the per-file footer pass is
        metadata-only and avoids Spark-job latency for small flushes.
        """
        files = [f for f in sorted(os.listdir(staging)) if f.endswith(".parquet")]
        if not files:
            return None
        bucketed = self._bucket_spec(tx, table) is not None
        if self._effective_snapshot(tx).bloom_cols.get(table) or tx.ident_probe.get(
            table
        ):
            # the identity mint probe needs row-level data (footer
            # stats can't separate minted from supplied cells), so a
            # probed write takes the distributed pass even bloom-less
            stats_by_file, blooms_by_file, max_idx = self._staged_stats_distributed(
                table, tx, staging
            )
            for fname in files:
                st = stats_by_file.get(fname)
                if st is None or st["num_rows"] == 0:
                    continue  # empty partition file — never logged
                name = f"table_{table}_{uuid.uuid4().hex}.parquet"
                src = os.path.join(staging, fname)
                self.store.put_file_if_absent(name, src)
                tx.actions.append(
                    AddDataObject(
                        name=name,
                        table=table,
                        tx_id=tx.id,
                        num_rows=st["num_rows"],
                        size=os.path.getsize(src),
                        stats=st["stats"],
                        blooms=self._maybe_sidecar_blooms(
                            blooms_by_file.get(fname, {})
                        ),
                        bucket_id=_staged_bucket_id(fname) if bucketed else None,
                        rewrite=rewrite,
                    )
                )
            return max_idx
        max_idx: Optional[int] = None
        for fname in files:
            hi = self._register_object(
                table, tx, os.path.join(staging, fname),
                bucket_id=_staged_bucket_id(fname) if bucketed else None,
                rewrite=rewrite,
            )
            if hi is not None:
                max_idx = hi if max_idx is None else max(max_idx, hi)
        return max_idx

    def _register_object(
        self,
        table: str,
        tx: _Tx,
        src_path: str,
        bucket_id: Optional[int] = None,
        rewrite: bool = False,
    ) -> Optional[int]:
        """Publish one local Parquet file as a data object; returns its
        largest ``_row_idx`` stamp (None when the file is empty)."""
        # NOTE: no leading underscore — Spark's file index treats `_`/`.`
        # prefixed files as hidden metadata and silently skips them (the
        # reference's `_table_` naming, dataobjects.go:51-57, would make
        # every data object invisible to the Parquet reader).
        num_rows, stats, idx_max = _parquet_file_stats(src_path)
        if num_rows == 0:
            return None  # empty partitions produce empty files; never log them
        size = os.path.getsize(src_path)
        name = f"table_{table}_{uuid.uuid4().hex}.parquet"
        # zero-copy publish: staging lives under the store root, so this
        # is a hard link, not a driver round-trip of the file bytes
        self.store.put_file_if_absent(name, src_path)
        blooms = self._maybe_sidecar_blooms(self._build_blooms(table, tx, src_path))
        tx.actions.append(
            AddDataObject(
                name=name,
                table=table,
                tx_id=tx.id,
                num_rows=num_rows,
                size=size,
                stats=stats,
                blooms=blooms,
                bucket_id=bucket_id,
                rewrite=rewrite,
            )
        )
        return idx_max

    def _build_blooms(self, table: str, tx: _Tx, src_path: str) -> dict[str, dict]:
        """Per-file blooms for the table's declared bloom columns.

        Reads ONLY the declared columns from the (local staging) file —
        the same driver-side footer pass that already produces min/max
        stats, extended by one column read. It serves the driver-side
        writes (buffer flush, small COW delete); a bloomed table's
        Spark-written files, all staged through _publish_staged, get
        theirs from _staged_stats_distributed's one pass instead — so
        blooms stay consistent on every write path."""
        snap = self._effective_snapshot(tx)
        cols = snap.bloom_cols.get(table)
        if not cols:
            return {}
        import pyarrow.parquet as pq

        from delta_lake_experiment_spark.plans.bloom import build_column_blooms

        # staged files carry physical names; bloom keys are physical
        # (the prune path probes with physical keys)
        pmap = self._rename_map(snap, table)
        schema_names = {f.name for f in self.table_schema(table).fields}
        wanted = [pmap.get(c, c) for c in cols if c in schema_names]
        # intersect with the FILE's physical schema: a driver-side COW
        # rewrite copies rows straight from a pre-evolution file, which
        # may lack a bloom column declared after it was written (the
        # column reads as NULL there — no bloom is correct, min/max
        # stats still apply); reading a missing column would raise
        present = set(pq.ParquetFile(src_path).schema_arrow.names)
        wanted = [c for c in wanted if c in present]
        if not wanted:
            return {}
        t = pq.read_table(src_path, columns=wanted)
        return build_column_blooms(
            {c: t[c].to_pylist() for c in wanted}, wanted
        )

    def _write_counted(self, table: str, df: DataFrame) -> int:
        """write_dataframe + row count derived from the written objects'
        footer stats — no separate count() job, and the count can never
        disagree with what was actually written."""
        tx = self._require_tx()
        before = len(tx.actions)
        self.write_dataframe(table, df)
        return sum(
            a.num_rows for a in tx.actions[before:] if isinstance(a, AddDataObject)
        )

    @contextlib.contextmanager
    def _staging_dir(self, df: Optional[DataFrame] = None) -> Iterator[str]:
        """A fresh staging directory (under the store root, so publishing
        is a hard link), holding ``df`` written as Parquet when one is
        given. Removed on exit — also when the write itself fails
        in-plan (a CHECK violation), which would otherwise leave a
        ``.tmp/staging_*`` directory no vacuum reclaims."""
        root = getattr(self.store, "root", None) or os.path.join("/tmp", "dles_staging")
        d = os.path.join(root, ".tmp", f"staging_{uuid.uuid4().hex}")
        os.makedirs(d, exist_ok=True)
        try:
            if df is not None:
                self._write_parquet_staging(df, d)
            yield d
        finally:
            _rmtree(d)

    def _publish_staged(
        self,
        tx: _Tx,
        table: str,
        df: DataFrame,
        snap: Optional[Snapshot] = None,
        rewrite: bool = False,
        replaced: Iterable[str] = (),
    ) -> Optional[int]:
        """The one publish step for Spark-written data: stage ``df``
        (logical names; renamed to physical here, from ``snap`` or the
        tx-effective snapshot), register every staged file as an
        ``add`` (``rewrite`` tags them as carrying existing rows — see
        _register_staging), and log a ``remove`` for each ``replaced``
        object, all in this tx. The caller owns the layout (bucketize,
        cluster, coalesce). Returns the max ``_row_idx`` staged."""
        with self._staging_dir(self._to_physical(tx, table, df, snap)) as staging:
            max_idx = self._register_staging(table, tx, staging, rewrite=rewrite)
        for name in replaced:
            tx.actions.append(RemoveDataObject(name=name, table=table, tx_id=tx.id))
        return max_idx

    def _maybe_checkpoint(self, tx: _Tx) -> None:
        if self.checkpoint_interval <= 0 or tx.id % self.checkpoint_interval != 0:
            return
        # Fold the authoritative log rather than trusting this tx's
        # in-memory view: with commit retry, other commits may have
        # interleaved between our snapshot and our log record. The kept
        # snapshot serves only while it is anchored at the newest
        # checkpoint; past another client's checkpoint, replay from
        # that one as a cold client would, so sidecar reuse names its
        # parts and never older ones retention may have reclaimed.
        newest_ckpt = newest_checkpoint_version(self.store)
        if self._kept is not None and self._kept.base != newest_ckpt:
            self._kept = None
        snap, _ = self._current_snapshot()
        if newest_ckpt >= snap.version:
            # already checkpointed (race lost) or superseded by a newer
            # one (this writer stalled past other checkpointers). The
            # advisory pre-check saves the lost-race path a full
            # sidecar serialize+put+delete AND closes the resurrection
            # hazard: a stalled writer must not re-publish a checkpoint
            # name that vacuum_log may have reclaimed along with its
            # sidecars (the publish would succeed against a vacuumed
            # name but point at deleted parts). put_if_absent below
            # remains the correctness gate for the residual window.
            write_last_checkpoint(self.store, newest_ckpt)
            return
        payload, parts = snap.to_checkpoint(self.store)
        try:
            self.store.put_if_absent(checkpoint_name(snap.version), payload)
        except ObjectExistsError:
            # someone else checkpointed this version — fine; our
            # sidecars (if any) are unreferenced: reclaim them now
            # rather than leaving orphans until the retention horizon
            for part in parts:
                self.store.delete(part)
        else:
            # POST-PUBLISH SELF-CHECK (VERDICT r13 item 7): a publisher
            # stalled between computing the payload and landing it can
            # have its REUSED part references swept by a concurrent
            # newer-checkpoint + vacuum_log — the advisory pre-check
            # above closes most of that window, but not the residue.
            # Probe ONE reused part after the publish: if it is gone,
            # the checkpoint just landed is a KNOWN-degraded anchor
            # (its refs dangle), so invalidate our own name instead of
            # leaving it — replays then anchor elsewhere or raise the
            # NAMED truncation error up front, never parse scalars that
            # fail lazily at first table touch. One probe per sweep
            # pass suffices for the full-sweep case; a mid-pass partial
            # sweep still falls back to the documented lazy named
            # error. exists()=None (backend cannot answer) keeps the
            # checkpoint — same assume-present contract as undrop.
            # Probing BOTH ends of the sorted reused list (still O(1),
            # ADVICE r14) catches an in-order partial sweep from either
            # direction — a sweep that already reclaimed the last part
            # but not yet the first no longer slips past.
            reused = getattr(snap, "_ckpt_reused_parts", [])
            if reused and any(
                self.store.exists(p) is False
                for p in {reused[0], reused[-1]}
            ):
                self.store.delete(checkpoint_name(snap.version))
                for part in parts:
                    self.store.delete(part)  # now-unreferenced fresh parts
                # refresh the advisory pointer to a real anchor
                newest = newest_checkpoint_version(self.store)
                if newest:
                    write_last_checkpoint(self.store, newest)
                return
            # re-anchor the kept snapshot at the checkpoint just
            # published, as a cold client would load it: the next
            # checkpoint then reuses these sidecar parts for tables
            # nobody touches
            self._kept = Snapshot.from_checkpoint(payload, self.store)
        # advisory pointer: future replays anchor their listing here
        # (same version either way when we lost the checkpoint race)
        write_last_checkpoint(self.store, snap.version)
        if self.log_retention_seconds is not None:
            # checkpoint-triggered expired-log cleanup (Delta's
            # enableExpiredLogCleanup): best-effort, never fails the
            # commit that triggered it
            try:
                self._vacuum_log_inner(self.log_retention_seconds, False)
            except Exception:
                pass


_DDL_TYPES = {
    "string": T.StringType(),
    "bigint": T.LongType(),
    "long": T.LongType(),
    "int": T.IntegerType(),
    "integer": T.IntegerType(),
    "smallint": T.ShortType(),
    "short": T.ShortType(),
    "tinyint": T.ByteType(),
    "byte": T.ByteType(),
    "double": T.DoubleType(),
    "float": T.FloatType(),
    "real": T.FloatType(),
    "boolean": T.BooleanType(),
    "binary": T.BinaryType(),
    "date": T.DateType(),
    "timestamp": T.TimestampType(),
    "timestamp_ntz": T.TimestampNTZType(),
}

_DDL_FIELD_RE = re.compile(
    r"^\s*(?:`([^`]+)`|([A-Za-z_][A-Za-z0-9_]*))\s+([A-Za-z_]+)\s*"
    r"(?:\(\s*(\d+)\s*,\s*(\d+)\s*\))?\s*$"
)


def _parse_ddl_local(ddl: str) -> Optional[T.StructType]:
    """Parse flat 'name TYPE, ...' DDL (primitives + decimal(p,s) +
    array<primitive>) without a SparkSession. Returns None for
    anything outside that grammar (nested structs, maps, NOT NULL,
    comments) — the caller then uses Spark's parser."""
    fields = []
    depth = 0
    part = []
    parts: list[str] = []
    for ch in ddl:
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(part))
            part = []
        else:
            part.append(ch)
    parts.append("".join(part))
    for p in parts:
        p = p.strip()
        if not p:
            return None
        arr = re.match(
            r"^\s*(?:`([^`]+)`|([A-Za-z_][A-Za-z0-9_]*))\s+array\s*<\s*([A-Za-z_]+)\s*>\s*$",
            p,
            re.IGNORECASE,
        )
        if arr:
            inner = _DDL_TYPES.get(arr.group(3).lower())
            if inner is None:
                return None
            fields.append(
                T.StructField(arr.group(1) or arr.group(2), T.ArrayType(inner))
            )
            continue
        m = _DDL_FIELD_RE.match(p)
        if not m:
            return None
        name = m.group(1) or m.group(2)
        tname = m.group(3).lower()
        if m.group(4) is not None:
            if tname != "decimal":
                return None
            fields.append(
                T.StructField(name, T.DecimalType(int(m.group(4)), int(m.group(5))))
            )
            continue
        dt = _DDL_TYPES.get(tname)
        if dt is None:
            return None
        fields.append(T.StructField(name, dt))
    return T.StructType(fields)


_Z_BITS = 16


def _str_prefix_num(col: Column) -> Column:
    """First-7-bytes of a string as a monotone BIGINT: lexicographic
    string order maps to numeric order on the prefix (unhex of the
    zero-right-padded hex of the UTF-8 bytes). 7 bytes keeps the value
    positive in a signed long."""
    hx = F.rpad(F.substring(F.hex(F.encode(col, "UTF-8")), 1, 14), 14, "0")
    return F.conv(hx, 16, 10).cast("long")


def _zorder_value(cols: list[str], bounds: dict[str, tuple[Any, Any]]) -> Column:
    """Morton (z-curve) value: interleave the bits of each column's
    16-bit linearly-quantized position within its [min, max] range.
    Pure projection (no window, no shuffle); NULLs and degenerate
    ranges quantize to 0. String columns quantize on their 7-byte
    prefix (monotone w.r.t. lexicographic order), so mixed
    string/numeric z-orders cluster both."""
    n = len(cols)
    ranks = []
    scale = float((1 << _Z_BITS) - 1)
    for c in cols:
        lo, hi = bounds[c]
        if lo is None or hi is None or hi == lo:
            ranks.append(F.lit(0).cast("long"))
            continue
        if isinstance(lo, str):
            lo_n = _py_str_prefix_num(lo)
            hi_n = _py_str_prefix_num(hi)
            if hi_n == lo_n:
                ranks.append(F.lit(0).cast("long"))
                continue
            frac = (_str_prefix_num(F.col(c)).cast("double") - F.lit(float(lo_n))) / F.lit(
                float(hi_n - lo_n)
            )
        else:
            frac = (F.col(c).cast("double") - F.lit(float(lo))) / F.lit(
                float(hi) - float(lo)
            )
        clamped = F.greatest(F.lit(0.0), F.least(F.lit(1.0), frac))
        ranks.append(F.coalesce((clamped * scale).cast("long"), F.lit(0).cast("long")))
    z = F.lit(0).cast("long")
    for bit in range(_Z_BITS):
        for i, r in enumerate(ranks):
            z = z + (
                F.shiftright(r, bit).bitwiseAND(F.lit(1)).cast("long")
                * F.lit(1 << (bit * n + i)).cast("long")
            )
    return z


def _py_str_prefix_num(s: str) -> int:
    """Driver-side twin of :func:`_str_prefix_num` for bounds."""
    b = s.encode("utf-8")[:7]
    return int.from_bytes(b + b"\x00" * (7 - len(b)), "big")


def _basename_of_uri(uri: str) -> str:
    path = uri[len("file:"):] if uri.startswith("file:") else uri
    return os.path.basename(path)


def _encode_stat(v: Any) -> Any:
    """JSON-safe stats value: primitives pass through; timestamps/dates
    become tagged integer strings ('ts:<epoch micros>' / 'd:<ordinal>')
    decoded by the snapshot's pruning comparator — time-range scans on
    time-series tables then prune files like any numeric range."""
    import datetime as _dt

    if isinstance(v, bool):
        return None
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return "ts:" + str((v - _dt.datetime(1970, 1, 1)) // _dt.timedelta(microseconds=1))
    if isinstance(v, _dt.date):
        return "d:" + str(v.toordinal())
    return None


def _scope_admits_add(scope: dict, add_body: dict) -> bool:
    """Could the interleaved fresh-insert add hold a row inside this
    recorded read scope? True unless PROVABLY disjoint — the same
    conservative direction as stats file pruning (an add without stats
    on a bound column, or with incomparable values, conflicts). Bounds
    are keyed by PHYSICAL column names, matching add stats (both sides
    committed under the same column mapping — a concurrent mapping
    change is a metadata conflict before this test runs)."""
    if scope.get("all"):
        return True
    buckets = scope.get("buckets")
    if buckets is not None:
        bid = add_body.get("bucket_id")
        if bid is not None and int(bid) not in buckets:
            return False  # disjoint bucket: cannot hold a scoped row
    bounds = scope.get("bounds")
    if bounds:
        return _stats_intersect(add_body.get("stats") or {}, bounds)
    return True


def _staged_bucket_id(fname: str) -> Optional[int]:
    """Bucket id of a staged Spark parquet file = its partition index
    (``part-NNNNN-...``). Under a bucketized staging write (see
    ``_bucketize``) partition i holds exactly bucket-i rows; a file
    name this can't parse on a bucketed table is a contract violation,
    not a soft miss — raise rather than silently registering an
    unlabeled object that scan_bucketed would then refuse forever."""
    m = re.match(r"part-(\d+)-", fname)
    if m is None:
        raise ValueError(
            f"bucketed staging produced unparseable file name {fname!r}"
        )
    return int(m.group(1))


def _parquet_file_stats(
    path: str,
) -> tuple[int, dict[str, list[Any]], Optional[int]]:
    """Footer-derived (num_rows, {col: [min, max]}, max ``_row_idx``)
    for prunable primitive + temporal columns — the log-level
    data-skipping stats the reference left as a TODO (README.md:37).
    The max stamp comes from the same row-group walk; a writer that
    omits its int64 stats costs one read of just that column."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    meta = pf.metadata
    num_rows = meta.num_rows
    mins: dict[str, Any] = {}
    maxs: dict[str, Any] = {}
    idx_max: Optional[int] = None
    idx_read = False
    for rg in range(meta.num_row_groups):
        group = meta.row_group(rg)
        for ci in range(group.num_columns):
            col = group.column(ci)
            name, st = col.path_in_schema, col.statistics
            has_stats = st is not None and st.has_min_max
            if name == IDX_COL:
                if not has_stats:
                    idx_read = True
                elif idx_max is None or int(st.max) > idx_max:
                    idx_max = int(st.max)
                continue
            if not has_stats or "." in name or name == TX_COL:
                continue
            mn, mx = st.min, st.max
            mins[name] = mn if name not in mins else min(mins[name], mn)
            maxs[name] = mx if name not in maxs else max(maxs[name], mx)
    if idx_read and num_rows:
        import pyarrow.compute as pc

        idx_max = int(pc.max(pf.read(columns=[IDX_COL])[IDX_COL]).as_py())
    out = {}
    for c in mins:
        lo, hi = _encode_stat(mins[c]), _encode_stat(maxs[c])
        if lo is not None and hi is not None:
            out[c] = [lo, hi]
    return num_rows, out, idx_max


def _rmtree(path: str) -> None:
    import shutil

    shutil.rmtree(path, ignore_errors=True)
