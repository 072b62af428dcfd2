"""Structured-Streaming SOURCE over engine tables (Spark 4 Python
Data Source API).

Delta lets ``spark.readStream.format("delta")`` tail a table's
transaction log; the reference engine has the same growth direction
implicitly (the log IS an ordered stream of commits, reference
deltalakeclient/transactions.go:8-29) but no consumer. This module
closes the gap the Spark-4-native way: a registered
:class:`~pyspark.sql.datasource.DataSource` whose
:class:`~pyspark.sql.datasource.DataSourceStreamReader` uses **log
versions as stream offsets** — each micro-batch is exactly the files
added by a contiguous commit range, read on EXECUTORS as Arrow batches
(one :class:`InputPartition` per data object, so a 1000-file commit
fans out across the cluster; nothing rows-shaped touches the driver).

Start semantics match Delta's:

- default (no ``startingVersion``): the FIRST batch is the current
  snapshot — all live files, deletion-vector masks applied — and later
  batches tail newly committed appends. Evolved tables (renames,
  widening, defaults) stream fine: the snapshot read uses the current
  logical shape, exactly like the batch scan.
- ``startingVersion=N``: replay committed versions > N file-by-file
  (CDC-style backfill of an append-only table).
- ``startingTimestamp=<ISO ts>`` (Delta's option, mutually exclusive
  with startingVersion): stream commits recorded at or after the
  bound; a bound past the newest commit tails only future commits.
- ``maxCommitsPerBatch`` / ``maxFilesPerBatch`` / ``maxBytesPerBatch``:
  admission control — each trigger advances at most that many
  commits/add-files/bytes down the log (commits never split; with a
  file/byte cap the initial snapshot drains in bounded slices too).
- ``readChangeFeed=true`` (Delta's option): stream per-commit CHANGE
  ROWS — user columns + ``_change_type`` ('insert' | 'delete') +
  ``_commit_version`` + ``_commit_timestamp`` — instead of raising on
  change commits. Each commit's changes are self-contained (its added
  files cancel against its removed files on the immutable row stamps,
  so COW rewrites net to the deleted rows and compaction nets to
  zero), which makes the feed computable per partition with no
  cross-commit state; DV commits contribute newly-masked positions as
  deletes. One partition per commit, cost O(commit) on one executor.

Read semantics mirror the batch scan exactly (client.py _read_live):
physical->logical column-mapping aliasing, stamp-gated column DEFAULTs
(``_tx_id < birth`` coalesce), read-schema widening (narrow files
under a widened declared type), and DV masks (snapshot batch) are all
applied per file in Arrow. Streams are APPEND-tailing, like Delta: a
tailed commit that removes or masks rows (COW delete, DV, compaction,
MERGE-matched updates) raises mid-stream unless
``skipChangeCommits=true`` (Delta's option of the same name) skips
those commits wholesale; a post-start metadata change (rename/widen/
defaults) always raises — restart the stream to pick up the new
schema, exactly Delta's contract.

Exactly-once end to end: offsets live in the stream checkpoint
(Spark's contract — ``partitions(start, end)`` is deterministic
because log records are immutable), and the engine SINK's ``txn
{app_id, batch}`` markers (streaming/engine_sink.py) de-duplicate
redelivery, so engine-table -> transform -> engine-table pipelines are
exactly-once with no extra bookkeeping.

Store plumbing: planning (offsets, log replay, partition descriptors)
runs DRIVER-side against an :class:`ObjectStorage` — by default
``LocalObjectStorage(path)``; a remote store registers a zero-arg
factory via :func:`register_store_factory` and passes
``.option("storeFactory", key)`` (options are strings-only, and the
store object is never needed beyond the driver). Executors open the
partition descriptors' PATHS directly (``store.path_of`` URIs — local
paths here, ``s3a://`` on a real cluster where the parquet reader has
the S3 filesystem).

Scale notes: ``latestOffset`` is one O(log tail) listing;
``partitions`` replays metadata only (checkpoint-accelerated) and
ships O(files-in-range) partition descriptors; each executor task
reads one immutable parquet object. VACUUM retention must cover the
stream's lag, the same operational rule as Delta's.
"""

from __future__ import annotations

import bisect
from dataclasses import dataclass, field
from typing import Any, Iterator, Optional

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from delta_lake_experiment_spark.plans import dv as dv_fmt
from delta_lake_experiment_spark.plans.snapshot import (
    dense_tail,
    log_versions,
    read_record,
    replay_log,
    ts_micros,
)
from delta_lake_experiment_spark.storage.objectstore import LocalObjectStorage

SOURCE_NAME = "engine_table"

# Driver-side registry for NON-LOCAL stores: the Python Data Source API
# only round-trips STRING options, and the store object itself is never
# needed on executors (partitions carry plain paths the executors'
# parquet reader can open — s3a:// URIs on a real cluster). Register a
# zero-arg factory under a key and pass .option("storeFactory", key);
# offsets/planning then run against that store instead of
# LocalObjectStorage(path). The `path` option remains the LOCATION
# string for the default local case.
STORE_FACTORIES: dict = {}


def register_store_factory(key: str, factory) -> None:
    """Register ``factory() -> ObjectStorage`` for
    ``.option("storeFactory", key)``. NOTE: Spark runs the Python data
    source in its own worker process, so the in-process registry only
    reaches readers constructed in THIS process (unit use); under a
    real stream pass either a PICKLABLE store to
    :func:`register_engine_source` (it rides the pickled DataSource
    subclass by value) or a ``"module:attr"`` import path the worker
    can resolve."""
    STORE_FACTORIES[key] = factory


def _resolve_store(factory_key, root):
    if factory_key:
        if factory_key in STORE_FACTORIES:
            return STORE_FACTORIES[factory_key]()
        if ":" in factory_key:
            import importlib

            mod, _, attr = factory_key.partition(":")
            return getattr(importlib.import_module(mod), attr)()
        raise ValueError(
            f"engine_table source: storeFactory {factory_key!r} is"
            " neither a registered key nor a 'module:attr' import path"
        )
    if not root:
        raise ValueError(
            "engine_table source: .load(<store root>) is required"
            " without a bound store or storeFactory"
        )
    return LocalObjectStorage(root)

# "before the initial snapshot" offset sentinel (no committed version
# is ever negative)
_BEGINNING = -1

# working columns stamped on every row (client.py TX_COL/IDX_COL)
_TX_COL = "_tx_id"
_IDX_COL = "_row_idx"


class NonAppendCommitError(RuntimeError):
    """A tailed commit changed/removed existing rows of the table."""


class SchemaChangedError(RuntimeError):
    """A tailed commit altered the table's metadata mid-stream."""


class TableDroppedError(RuntimeError):
    """A tailed commit DROPPED the source table: the stream (and any
    CDF consumer) cannot continue past the end of the lineage — a
    recreate under the same name is a DIFFERENT table needing a fresh
    stream. Local subclass (not the client errors module) for the same
    reason as its siblings: cloudpickle ships this module by value
    into Spark's python-data-source worker."""


def _arrow_type(ddl: str):
    """Spark simpleString type -> pyarrow type, for the read-side cast.
    Covers the engine's storable primitives + decimal + array<prim>."""
    import pyarrow as pa

    t = ddl.strip().lower()
    prim = {
        "bigint": pa.int64(),
        "long": pa.int64(),
        "int": pa.int32(),
        "integer": pa.int32(),
        "smallint": pa.int16(),
        "short": pa.int16(),
        "tinyint": pa.int8(),
        "byte": pa.int8(),
        "double": pa.float64(),
        "float": pa.float32(),
        "real": pa.float32(),
        "string": pa.string(),
        "boolean": pa.bool_(),
        "binary": pa.binary(),
        "date": pa.date32(),
        "timestamp": pa.timestamp("us", tz="UTC"),
        "timestamp_ntz": pa.timestamp("us"),
    }
    if t in prim:
        return prim[t]
    if t.startswith("decimal"):
        import re

        m = re.match(r"decimal\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)", t)
        if m:
            return pa.decimal128(int(m.group(1)), int(m.group(2)))
    if t.startswith("array<") and t.endswith(">"):
        return pa.list_(_arrow_type(t[len("array<"):-1]))
    raise TypeError(f"engine_table source: unsupported column type {ddl!r}")


def _split_ddl(ddl: str) -> list[tuple[str, str]]:
    """Flat 'name TYPE, ...' DDL -> [(name, type_str)] — same grammar
    the engine stores (client.py _parse_ddl_local), no SparkSession."""
    out = []
    depth, part, parts = 0, [], []
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
        name, _, typ = p.partition(" ")
        out.append((name.strip("`"), typ.strip()))
    return out


@dataclass
class EngineFilePartition(InputPartition):
    """One committed data object: everything an executor needs to read
    it in the table's CURRENT logical shape, with no store/client
    object in the closure (plain strings pickle anywhere)."""

    path: str = ""
    # [(logical_name, physical_name_in_file, type_ddl)] in declared order
    columns: list = field(default_factory=list)
    # logical_name -> {"v": literal, "birth": int} (existingDefault)
    defaults: dict = field(default_factory=dict)
    # deletion-vector masks covering this object (initial snapshot
    # batch only — tailed commits are append-only by contract)
    obj_name: str = ""
    dv_paths: list = field(default_factory=list)
    with_stamps: bool = False


class EngineTableStreamReader(DataSourceStreamReader):
    def __init__(self, root: str, options, store=None) -> None:
        self.root = root
        self._bound = store
        self.table = options.get("table")
        if not self.table:
            raise ValueError("engine_table source: option 'table' is required")
        sv = options.get("startingversion")
        st = options.get("startingtimestamp")
        if sv is not None and st is not None:
            raise ValueError(
                "engine_table source: startingVersion and"
                " startingTimestamp are mutually exclusive (Delta's"
                " contract)"
            )
        self.start_version = _BEGINNING if sv is None else int(sv)
        if st is not None:
            # Delta's startingTimestamp: stream commits AT OR AFTER the
            # bound. Offsets replay versions > start, so start = the
            # version just below the first commit whose recorded
            # wall-clock >= bound; a bound past the newest commit tails
            # only FUTURE commits (the friendly choice for a tailing
            # source). Naive bounds are UTC, matching the commit clock.
            from delta_lake_experiment_spark.errors import TypeMismatchError

            try:
                bound = ts_micros(str(st))
            except TypeMismatchError:
                raise ValueError(
                    f"engine_table source: startingTimestamp {st!r} is"
                    " not an ISO timestamp"
                ) from None
            store0 = self._bound if self._bound is not None else _resolve_store(
                self.store_factory_key, self.root
            )
            versions = log_versions(store0)
            # binary search the first commit with ts >= bound: O(log n)
            # record reads, exact because recorded stamps are monotonic
            # (encode_record); best-effort over pre-ICT records.
            i = bisect.bisect_left(
                versions,
                bound,
                key=lambda v: int(read_record(store0, v).get("ts", 0)),
            )
            if i < len(versions):
                start = versions[i] - 1
            else:
                # bound past the newest commit: tail only FUTURE
                # commits (the friendly choice for a tailing source)
                start = versions[-1] if versions else 0
            self.start_version = start
        self.skip_change_commits = (
            str(options.get("skipchangecommits", "false")).lower() == "true"
        )
        self.with_stamps = (
            str(options.get("withstamps", "false")).lower() == "true"
        )
        self.read_change_feed = (
            str(options.get("readchangefeed", "false")).lower() == "true"
        )
        self.store_factory_key = options.get("storefactory")
        # Admission control (Delta's maxFilesPerTrigger shape): cap how
        # far latestOffset advances per trigger, so a resumed stream
        # drains its backlog in BOUNDED micro-batches instead of
        # packing every commit since the checkpoint into one. At 100 TB
        # an unbounded catch-up batch is the difference between a
        # stream that recovers and one that OOMs its first trigger.
        self.max_commits = int(options.get("maxcommitsperbatch", 0) or 0)
        self.max_files = int(options.get("maxfilesperbatch", 0) or 0)
        self.max_bytes = int(options.get("maxbytesperbatch", 0) or 0)
        if self.max_commits < 0 or self.max_files < 0 or self.max_bytes < 0:
            raise ValueError(
                "engine_table source: maxCommitsPerBatch /"
                " maxFilesPerBatch / maxBytesPerBatch must be >= 0"
                " (0 disables the cap)"
            )
        # Last log version this stream run has planned or offered —
        # the base the caps advance from. Learned from partitions()/
        # commit() (on restart Spark re-plans the checkpointed batch
        # BEFORE asking for a new latestOffset, so a resumed reader
        # knows its position by the time the cap applies); None until
        # then. Per-run state only: the planner worker constructs a
        # fresh reader for every stream run, never across restarts.
        self._pos: Optional[int] = None
        # mid-snapshot cursor: (pinned snapshot version, files consumed
        # so far) while a file-capped initial snapshot drains in slices
        self._snap: Optional[tuple[int, int]] = None
        # snapshot-version -> ordered [(obj_name, dv_names)] — the slice
        # order must be stable across calls AND across planner restarts:
        # live_objects' order is the log-replay insertion order, a pure
        # function of the log contents
        self._snap_files: dict[int, list] = {}
        # version -> parsed log record: without it, a file-capped
        # trigger reads+parses each admitted commit THREE times
        # (latestOffset's budget walk, the metadata guard, the tail
        # planner) — tripled log round-trips on a slow object store
        # (review catch, r10). Committed records are immutable, so the
        # cache never goes stale; commit() prunes consumed versions.
        self._records: dict[int, dict] = {}
        if self.read_change_feed:
            if self.skip_change_commits:
                raise ValueError(
                    "engine_table source: readChangeFeed consumes change"
                    " commits - skipChangeCommits contradicts it"
                )
            if self.with_stamps:
                raise ValueError(
                    "engine_table source: readChangeFeed and withStamps"
                    " are mutually exclusive (the CDF columns replace the"
                    " stamp columns)"
                )
            if self.start_version == _BEGINNING:
                # Delta requires a startingVersion for CDF; from-birth
                # replay is the natural default here (the log IS the feed)
                self.start_version = 0
        store = self._store()
        snap = replay_log(store)
        if self.table not in snap.tables:
            raise ValueError(
                f"engine_table source: no table {self.table!r} at {root}"
            )
        # Pin the logical shape at stream start (Delta pins the schema
        # at analysis; any later metadata commit raises in partitions()).
        self.pinned_version = snap.version
        self._ddl = snap.tables[self.table]
        cmap = snap.col_maps.get(self.table, {})
        self._columns = [
            (name, cmap.get(name, name), typ)
            for name, typ in _split_ddl(self._ddl)
        ]
        self._defaults = {
            c: {"v": d["v"], "birth": int(d["birth"])}
            for c, d in snap.defaults.get(self.table, {}).items()
        }

    def _store(self):
        if self._bound is not None:
            return self._bound
        return _resolve_store(self.store_factory_key, self.root)

    # -- offsets --------------------------------------------------------
    def initialOffset(self) -> dict:
        return {"version": self.start_version}

    def latestOffset(self) -> dict:
        store = self._store()
        # anchor the LIST at the stream's position: a long-lived stream
        # on a 10⁶-commit log pays O(new commits) LIST keys per trigger
        # instead of re-paging the whole _log_ prefix every trigger
        anchor = self._pos if self._pos is not None else self.start_version
        versions = log_versions(store, after=anchor)
        latest = (
            versions[-1]
            if versions
            else (anchor if anchor is not None and anchor >= 0 else 0)
        )
        if not (self.max_commits or self.max_files or self.max_bytes):
            return {"version": latest}
        if self._snap is not None:
            # mid-snapshot: advance the file cursor within the PINNED
            # snapshot version (new commits keep landing — they tail
            # AFTER the snapshot completes, Delta's semantics)
            s, k = self._snap
            files = self._snapshot_files(store, s)
            k2 = self._snap_advance(files, k)
            if k2 < len(files):
                self._snap = (s, k2)
                return {"version": _BEGINNING, "snap": s, "idx": k2}
            # the remaining files fit one batch: finish the snapshot
            # and hand over to tail mode at version s
            self._snap = None
            self._pos = s
            return {"version": s}
        base = self._pos if self._pos is not None else self.start_version
        if base == _BEGINNING:
            # snapshot-first stream's FIRST batch: pin the snapshot at
            # `latest`. With a file or byte cap, the snapshot itself is
            # split into bounded slices (Delta's maxFilesPerTrigger
            # bounds the initial snapshot too — at 100 TB the snapshot
            # IS the backlog); otherwise it stays a single batch of
            # per-file partitions.
            files = self._snapshot_files(store, latest)
            k0 = self._snap_advance(files, 0)
            if k0 < len(files):
                self._snap = (latest, k0)
                return {"version": _BEGINNING, "snap": latest, "idx": k0}
            self._pos = latest
            return {"version": latest}
        end = latest
        if self.max_commits:
            end = min(end, base + self.max_commits)
        if (self.max_files or self.max_bytes) and end > base:
            # advance whole commits while the file/byte budgets last (a
            # commit is never split — offsets are log versions); the
            # first commit always admits, like Delta's maxFilesPerTrigger.
            # A legacy add without a recorded size exhausts the byte
            # budget conservatively (its commit admits, then the batch
            # closes) — bounded even over pre-size log records.
            fbudget = self.max_files or None
            bbudget = self.max_bytes or None
            chosen = base
            for v in versions:
                if v > end:
                    break
                record = self._log_record(store, v)
                n_adds, n_bytes, unknown = 0, 0, False
                for act in record.get("actions", []):
                    if "add" in act and act["add"].get("table") == self.table:
                        n_adds += 1
                        sz = int(act["add"].get("size", 0))
                        if sz <= 0 and int(act["add"].get("num_rows", 0)) > 0:
                            unknown = True
                        n_bytes += max(sz, 0)
                if chosen > base:
                    if fbudget is not None and n_adds > fbudget:
                        break
                    if bbudget is not None and (unknown or n_bytes > bbudget):
                        break
                if fbudget is not None:
                    fbudget -= n_adds
                if bbudget is not None:
                    bbudget -= n_bytes
                chosen = v
                if fbudget is not None and fbudget <= 0:
                    break
                if bbudget is not None and (bbudget <= 0 or unknown):
                    break
            end = chosen
        self._pos = max(base, end)
        return {"version": self._pos}

    def _snap_advance(self, files: list, k: int) -> int:
        """Cursor after ONE bounded snapshot slice starting at ``k``:
        admits files while the file AND byte budgets last (>= 1 file
        always admits; a file without a recorded size exhausts the
        byte budget conservatively). No caps -> the whole snapshot."""
        n = len(files)
        if k >= n or not (self.max_files or self.max_bytes):
            return n
        fb = self.max_files or None
        bb = self.max_bytes or None
        j, used_b = k, 0
        while j < n:
            sz = int(files[j][2])
            unknown = sz <= 0
            if j > k:
                if fb is not None and (j - k) >= fb:
                    break
                if bb is not None and (unknown or used_b + sz > bb):
                    break
            used_b += max(sz, 0)
            j += 1
            if bb is not None and unknown:
                break  # unknown size: close the slice conservatively
        return j

    def commit(self, end: dict) -> None:  # offsets need no cleanup;
        # remember the committed position for the admission caps
        if "snap" in end:
            self._snap = (int(end["snap"]), int(end["idx"]))
            return
        v = int(end.get("version", _BEGINNING))
        if v >= 0 and (self._pos is None or v > self._pos):
            self._pos = v
        if v >= 0 and self._records:
            self._records = {k: r for k, r in self._records.items() if k > v}
        # snapshot-file cache: entries exist only to serve the pinned
        # initial-snapshot slices — once the snapshot finishes, drop
        # them all so a long-lived stream's driver memory stays
        # O(backlog), not O(stream lifetime)
        if self._snap_files:
            pinned = self._snap[0] if self._snap is not None else None
            if pinned is None:
                self._snap_files.clear()
            elif set(self._snap_files) - {pinned}:
                self._snap_files = {
                    k: f for k, f in self._snap_files.items() if k == pinned
                }

    def _log_record(self, store, version: int) -> dict:
        """Parsed log record for ``version`` (committed records are
        immutable — cached for the trigger's three consumers)."""
        rec = self._records.get(version)
        if rec is None:
            rec = read_record(store, version)
            self._records[version] = rec
        return rec

    def _snapshot_files(self, store, version: int) -> list:
        """Ordered [(obj_name, dv_names, size)] of the
        version-``version`` snapshot — the unit the file/byte-capped
        initial snapshot slices over. Cached per version (replay is
        O(log) driver metadata)."""
        files = self._snap_files.get(version)
        if files is None:
            snap = replay_log(store, as_of=version)
            dvs = snap.table_dvs(self.table)
            files = [
                (o.name, tuple(dvs.get(o.name, ())), int(o.size))
                for o in snap.live_objects(self.table)
            ]
            self._snap_files[version] = files
        return files

    # -- planning -------------------------------------------------------
    def _raise_on_metadata_between(self, store, lo: int, hi: int) -> None:
        """Raise if any commit in (lo, hi] changed the table's
        metadata — the pinned shape would read it wrong."""
        if hi <= lo:
            return
        for v in log_versions(store, after=lo, upto=hi):
            record = self._log_record(store, v)
            for act in record.get("actions", []):
                kind = next(iter(act))
                if kind == "drop" and act[kind].get("table") == self.table:
                    # a drop between the pin and this trigger ends the
                    # lineage: without this check the snapshot branch
                    # would replay an empty live set and emit NOTHING
                    # silently — or, after a same-schema recreate,
                    # silently splice the NEW lineage's rows onto the
                    # pre-drop pin
                    raise TableDroppedError(
                        f"engine_table source: commit v{v} dropped table"
                        f" {self.table!r} after the stream pinned its"
                        f" schema (v{lo}) - start a NEW stream (fresh"
                        " checkpoint) against any recreate"
                    )
                if (
                    kind == "metadata"
                    and act[kind].get("table") == self.table
                    # identity high-water-mark advances ("io") change
                    # nothing a reader's shape depends on — skipping
                    # them is what keeps identity tables streamable
                    and not act[kind].get("io")
                ):
                    raise SchemaChangedError(
                        f"engine_table source: commit v{v} changed table"
                        f" {self.table!r} metadata after the stream pinned"
                        f" its schema (v{lo}) - restart the stream to"
                        " adopt the new schema (Delta's contract)"
                    )

    def _raise_on_vacuumed(self, store, v: int, names) -> None:
        """CDF replays HISTORY by object path, but VACUUM physically
        reclaims objects unreferenced by retained snapshots while the
        log records remain — a from-birth feed on a vacuumed table
        would otherwise die mid-replay with an opaque executor
        FileNotFoundError. Check at PLANNING time and name the remedy."""
        for n in names:
            if store.exists(n) is False:
                raise ValueError(
                    f"engine_table source: commit v{v} references object"
                    f" {n!r}, which VACUUM has reclaimed - the change feed"
                    " cannot replay past the retention horizon; pass"
                    " .option('startingVersion', <a retained version>)"
                    " (Delta requires one for CDF for the same reason)"
                )

    def _part(self, store, body_name: str, dv_names=()) -> EngineFilePartition:
        return EngineFilePartition(
            path=store.path_of(body_name),
            columns=self._columns,
            defaults=self._defaults,
            obj_name=body_name,
            dv_paths=[store.path_of(d) for d in dv_names],
            with_stamps=self.with_stamps,
        )

    def partitions(self, start: dict, end: dict):
        store = self._store()
        lo, hi = int(start["version"]), int(end["version"])
        a = int(start.get("idx", 0)) if "snap" in start else 0
        if "snap" in end:
            # a SLICE of the file-capped initial snapshot: files
            # [a, b) of the snapshot pinned at `snap` (same metadata
            # guard and DV masks as the one-batch form)
            s, b = int(end["snap"]), int(end["idx"])
            if "snap" in start and int(start["snap"]) != s:
                raise ValueError(
                    "engine_table source: snapshot slices from two"
                    f" different pinned versions ({start}->{end}) -"
                    " corrupt checkpoint?"
                )
            if "snap" not in start and lo != _BEGINNING:
                # same invariant as the tail-mode regression guard: a
                # tail-position start paired with a snapshot-slice end
                # would silently re-emit files already delivered
                # through version `lo` — refuse loudly instead
                raise ValueError(
                    f"engine_table source: offset regression (tail"
                    f" start v{lo} followed by snapshot slice {end}) -"
                    " corrupt checkpoint?"
                )
            self._snap = (s, b)  # a resumed run learns its cursor here
            self._raise_on_metadata_between(store, self.pinned_version, s)
            files = self._snapshot_files(store, s)
            if b < a or b > len(files):
                raise ValueError(
                    f"engine_table source: snapshot slice [{a},{b}) out"
                    f" of range (snapshot v{s} has {len(files)} files)"
                )
            # a pinned-version read can outlive its files: a COW
            # rewrite + VACUUM between slices would otherwise die as an
            # opaque executor FileNotFoundError (same planning-time
            # guard as the change feed)
            self._raise_on_vacuumed(
                store, s, [name for name, _, _ in files[a:b]]
            )
            return [
                self._part(store, name, dv_names)
                for name, dv_names, _ in files[a:b]
            ]
        if lo != _BEGINNING and hi < lo:
            # an end older than the start would re-emit committed
            # versions after the checkpoint advances — refuse loudly
            # rather than silently duplicate (cannot happen under the
            # observed driver protocol; this is the invariant guard)
            raise ValueError(
                f"engine_table source: offset regression (start v{lo} >"
                f" end v{hi}) - corrupt checkpoint?"
            )
        if self._pos is None or hi > self._pos:
            self._pos = hi  # a resumed run learns its position here
        if lo == _BEGINNING and "snap" in start:
            # the FINISHING batch of a sliced snapshot: the remaining
            # files of the pinned version, plus the tail (snap, hi]
            s = int(start["snap"])
            self._snap = None
            self._raise_on_metadata_between(store, self.pinned_version, hi)
            files = self._snapshot_files(store, s)
            self._raise_on_vacuumed(
                store, s, [name for name, _, _ in files[a:]]
            )
            parts = [
                self._part(store, name, dv_names)
                for name, dv_names, _ in files[a:]
            ]
            parts.extend(self._tail_partitions(store, s, hi))
            return parts
        if lo == _BEGINNING:
            # initial snapshot batch: all live files at `hi`, DV masks
            # applied — byte-for-byte the batch scan's semantics. The
            # pinned column shape must still be current at `hi`: a
            # metadata commit landing between reader construction and
            # the first trigger would otherwise be read with a stale
            # shape (wrong names/types/defaults) instead of raising.
            self._raise_on_metadata_between(store, self.pinned_version, hi)
            snap = replay_log(store, as_of=hi)
            dvs = snap.table_dvs(self.table)
            return [
                self._part(store, o.name, dvs.get(o.name, ()))
                for o in snap.live_objects(self.table)
            ]
        return self._tail_partitions(store, lo, hi)

    def _tail_partitions(self, store, lo: int, hi: int):
        """Per-commit tail partitions for log versions (lo, hi] — the
        body of the original tail branch, factored so the sliced
        snapshot's finishing batch can append its tail to the last
        file slice."""
        from delta_lake_experiment_spark.errors import HistoryTruncatedError

        try:
            table_known = self.table in replay_log(store, as_of=lo).tables
        except HistoryTruncatedError as e:
            # The STATE at lo is unreconstructable, but the stream only
            # needs the commits (lo, hi] — if the first retained record
            # is exactly lo+1 (a position at horizon-1, e.g. a
            # startingTimestamp older than retained history), everything
            # this tail delivers survives; only the table-existence
            # probe moves up one version (its sole use is tolerating
            # the CREATE commit, which a fresh stream's pinned_version
            # already covers). A real gap inside (lo, hi] still fails
            # loudly below.
            tail0 = log_versions(store, after=lo)
            first = tail0[0] if tail0 else None
            recoverable = first is not None and first == lo + 1
            if recoverable:
                try:
                    table_known = (
                        self.table in replay_log(store, as_of=first).tables
                    )
                except HistoryTruncatedError:
                    recoverable = False
            if not recoverable:
                # the stream's position is genuinely below the retention
                # horizon: name the streaming remedy, not the
                # time-travel one
                raise ValueError(
                    f"engine_table source: stream position v{lo} is below"
                    " the vacuum_log retention horizon (its log records"
                    " are reclaimed) - restart the stream with a fresh"
                    " checkpoint (or .option('startingVersion', a"
                    " retained version)) to resync"
                ) from e
        parts: list[InputPartition] = []
        try:
            tail = dense_tail(log_versions(store, after=lo), lo, hi)
        except HistoryTruncatedError as gap:
            # vacuum_log reclaimed records this stream still needed —
            # refuse loudly instead of silently dropping the commits
            raise ValueError(
                f"engine_table source: {gap} while this stream was"
                " positioned below the retention horizon - restart the"
                " stream with a fresh checkpoint (or"
                " .option('startingVersion', a retained version)) to"
                " resync"
            ) from None
        for v in tail:
            record = self._log_record(store, v)
            adds, removes, dvs, metas = [], [], [], 0
            for act in record.get("actions", []):
                kind = next(iter(act))
                body = act[kind]
                if body.get("table") != self.table:
                    continue
                if kind == "drop":
                    # end of the lineage: named and terminal in BOTH
                    # modes (append tail and CDF) — silently skipping
                    # would wedge the stream on a table that no longer
                    # exists, or worse, splice a recreate's rows onto
                    # the old lineage
                    raise TableDroppedError(
                        f"engine_table source: commit v{v} dropped table"
                        f" {self.table!r} - the stream cannot continue"
                        " past the end of the lineage; start a NEW"
                        " stream (fresh checkpoint) against any"
                        " recreate"
                    )
                if kind == "add":
                    adds.append(body)
                elif kind == "remove":
                    removes.append(body)
                elif kind == "dv":
                    dvs.append(body)
                elif kind == "metadata":
                    # identity high-water-mark advances ("io") don't
                    # change the read shape: every insert into an
                    # identity table carries one, and counting them
                    # would make such tables permanently unstreamable
                    if not body.get("io"):
                        metas += 1
            changes = len(removes) + len(dvs)
            if metas:
                # metadata commits AT OR BEFORE the reader's pinned
                # version are already reflected in the pinned shape —
                # skipping them is what lets a RESTARTED stream (which
                # re-pins the post-ALTER schema) advance past the ALTER
                # instead of wedging on it forever
                if table_known and v > self.pinned_version:
                    raise SchemaChangedError(
                        f"engine_table source: commit v{v} changed table"
                        f" {self.table!r} metadata mid-stream - restart the"
                        " stream to adopt the new schema (Delta's contract)"
                    )
                table_known = True  # the CREATE itself streams fine
            if self.read_change_feed:
                if adds or removes or dvs:
                    prior_live: dict = {}
                    if removes:
                        # removed files' PRIOR deletion-vector masks
                        # (as of the commit's from-state) apply before
                        # the anti-join — scan_changes' DV-aware read
                        try:
                            prior = replay_log(store, as_of=v - 1)
                        except HistoryTruncatedError as e:
                            # a horizon-1 stream admitted by the
                            # recoverable path can still need commit
                            # lo+1's FROM-STATE (at lo, which is below
                            # the horizon) when that commit removes
                            # files — name the CDF remedy instead of
                            # leaking the raw time-travel error
                            raise ValueError(
                                f"engine_table source: change feed for"
                                f" commit v{v} needs the v{v - 1}"
                                " from-state, which vacuum_log has"
                                " reclaimed - start the CDF at a"
                                " version whose predecessor is"
                                " retained (.option('startingVersion',"
                                " a retained version))"
                            ) from e
                        prior_dvs = prior.table_dvs(self.table)
                        prior_live = prior.live_map(self.table)
                    if self.max_bytes:
                        # a commit is ONE unsplittable CDF unit (its
                        # adds cancel against its removes on the row
                        # stamps, so splitting it would fabricate
                        # deletes) — when one commit's change set alone
                        # exceeds the byte budget, name the cost at
                        # planning time instead of silently blowing the
                        # executor budget mid-batch. Remove actions
                        # carry no size, so removed bytes come from the
                        # from-state snapshot (delete/compaction-heavy
                        # commits are exactly the expensive ones —
                        # review catch, r11).
                        commit_bytes = sum(
                            int(b.get("size", 0)) for b in adds
                        ) + sum(
                            int(getattr(prior_live.get(b["name"]), "size", 0))
                            for b in removes
                        )
                        if commit_bytes > self.max_bytes:
                            import warnings

                            warnings.warn(
                                f"engine_table CDF: commit v{v}'s change"
                                f" set is ~{commit_bytes} bytes, above"
                                f" maxBytesPerBatch={self.max_bytes};"
                                " commits never split (consistency), so"
                                " this batch will exceed the budget -"
                                " size ingest commits below the cap if"
                                " the executors cannot absorb it",
                                stacklevel=2,
                            )
                    names = (
                        [b["name"] for b in adds]
                        + [b["name"] for b in removes]
                        + [b["dv_name"] for b in dvs]
                        + [o for b in dvs for o in b["objects"]]
                    )
                    self._raise_on_vacuumed(store, v, names)
                    parts.append(
                        EngineCdfPartition(
                            version=v,
                            ts_micros=int(record.get("ts", 0)),
                            add_paths=[
                                store.path_of(b["name"]) for b in adds
                            ],
                            remove_paths=[
                                (
                                    store.path_of(b["name"]),
                                    b["name"],
                                    [
                                        store.path_of(d)
                                        for d in prior_dvs.get(b["name"], ())
                                    ],
                                )
                                for b in removes
                            ],
                            dvs=[
                                (
                                    store.path_of(b["dv_name"]),
                                    {
                                        o: store.path_of(o)
                                        for o in b["objects"]
                                    },
                                )
                                for b in dvs
                            ],
                            columns=self._columns,
                            defaults=self._defaults,
                        )
                    )
                continue
            if changes:
                if not self.skip_change_commits:
                    raise NonAppendCommitError(
                        f"engine_table source: commit v{v} removed or"
                        f" masked rows of {self.table!r} - streaming reads"
                        " are append-tailing; pass"
                        " .option('skipChangeCommits', 'true') to skip"
                        " such commits wholesale (Delta's option), or"
                        " .option('readChangeFeed', 'true') to consume"
                        " them as insert/delete change rows"
                    )
                continue  # skip the whole commit, adds included
            if adds:
                # a replayed add may have been rewritten later and then
                # VACUUMed — same planning-time guard as the change feed
                self._raise_on_vacuumed(store, v, [b["name"] for b in adds])
            for body in adds:
                parts.append(self._part(store, body["name"]))
        return parts

    # -- executor-side read ----------------------------------------------
    def read(self, partition) -> Iterator[Any]:
        if isinstance(partition, EngineCdfPartition):
            return _read_engine_cdf(partition)
        return _read_engine_file(partition)


def _shape_logical(tbl, columns, defaults, with_stamps: bool):
    """Project a RAW engine parquet table into the logical shape:
    physical->logical aliasing, cast to (possibly widened) declared
    types, stamp-gated defaults. Pure pyarrow; shared by the
    append-stream and change-feed readers."""
    import pyarrow as pa
    import pyarrow.compute as pc

    have = set(tbl.column_names)
    tx = tbl.column(_TX_COL) if _TX_COL in have else None
    arrays, names = [], []
    for logical, physical, typ in columns:
        target = _arrow_type(typ)
        if physical in have:
            col = pc.cast(tbl.column(physical), target)
        else:
            # column added after this file was written: reads as NULL
            # (the default gate below may then substitute)
            col = pa.nulls(tbl.num_rows, type=target)
        d = defaults.get(logical)
        if d is not None and tx is not None:
            gate = pc.and_(
                pc.less(tx, pa.scalar(int(d["birth"]), type=tx.type)),
                pc.is_null(col),
            )
            col = pc.if_else(gate, pa.scalar(d["v"], type=target), col)
        arrays.append(col)
        names.append(logical)
    if with_stamps:
        for extra in (_TX_COL, _IDX_COL):
            arrays.append(pc.cast(tbl.column(extra), pa.int64()))
            names.append(extra)
    return pa.table(arrays, names=names)


def _masked_positions(dv_paths, obj_name: str):
    """Row positions of ``obj_name`` the dv objects at ``dv_paths``
    mask (None when nothing is masked)."""
    import pyarrow.parquet as pq

    return dv_fmt.masked_positions(
        [pq.read_table(p, columns=dv_fmt.COLUMNS) for p in dv_paths], obj_name
    )


def _read_engine_file(part: EngineFilePartition) -> Iterator[Any]:
    """Read one data object in the table's logical shape: DV-mask rows
    out, then the shared logical projection. Pure pyarrow — runs in
    the Python data source worker on executors."""
    import pyarrow.parquet as pq

    tbl = dv_fmt.drop_positions(
        pq.read_table(part.path), _masked_positions(part.dv_paths, part.obj_name)
    )
    out = _shape_logical(tbl, part.columns, part.defaults, part.with_stamps)
    for batch in out.to_batches():
        yield batch


@dataclass
class EngineCdfPartition(InputPartition):
    """One COMMIT's change set for the change-feed mode: everything an
    executor needs to compute the commit's net insert/delete rows
    locally — a commit's changes are self-contained (its added files
    cancel against its removed files on the immutable row stamps), so
    no cross-partition state is needed."""

    version: int = 0
    ts_micros: int = 0
    add_paths: list = field(default_factory=list)
    # [(path, obj_name, [prior-dv paths])] — masks accumulated BEFORE
    # this commit apply to removed files before the anti-join
    remove_paths: list = field(default_factory=list)
    # [(dv_path, {target_obj_name: target_path})]
    dvs: list = field(default_factory=list)
    columns: list = field(default_factory=list)
    defaults: dict = field(default_factory=dict)


def _read_engine_cdf(part: EngineCdfPartition) -> Iterator[Any]:
    """Compute one commit's change rows: inserts = added rows minus
    rewrite carry-overs, deletes = removed rows not re-added plus
    newly DV-masked positions of still-live files — the per-commit
    form of client.scan_changes' stamp anti-join (exact under COW,
    DV, MERGE and compaction, which nets to zero). Cost is O(commit):
    both sides of THIS commit are read on one executor — the honest
    CDF price Delta also pays per commit file group."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    keys = [_TX_COL, _IDX_COL]
    # the schema-stable projection every side is normalized to BEFORE
    # any concat/join: current physical columns cast to their DECLARED
    # arrow types (files span eras — a widened column is int32 in old
    # files and int64 in new ones; a missing column reads as NULL) +
    # the stamp columns. Dropped columns' physical leftovers never
    # enter, so their cross-era width drift can't poison a concat.
    wanted = [
        (physical, _arrow_type(typ)) for _, physical, typ in part.columns
    ] + [(_TX_COL, pa.int64()), (_IDX_COL, pa.int64())]

    def _normalize(tbl):
        cols = []
        for name, typ in wanted:
            if name in tbl.column_names:
                cols.append(pc.cast(tbl.column(name), typ))
            else:
                cols.append(pa.nulls(tbl.num_rows, type=typ))
        return pa.table(cols, names=[n for n, _ in wanted])

    def _union(entries):
        # entries: [(path, obj_name, prior-dv paths)] — prior deletion
        # vectors apply BEFORE the anti-join, matching scan_changes'
        # DV-aware read of removed files: a row soft-deleted in an
        # EARLIER commit is not "deleted again" when a later rewrite
        # or compaction retires its file (the rewrite materialized the
        # mask, so the raw removed file is wider than the live rows)
        tbls = [
            _normalize(
                dv_fmt.drop_positions(pq.read_table(p), _masked_positions(dvs, o))
            )
            for p, o, dvs in entries
        ]
        tbls = [t for t in tbls if t.num_rows]
        if not tbls:
            return None
        return tbls[0] if len(tbls) == 1 else pa.concat_tables(tbls)

    added = _union([(p, "", ()) for p in part.add_paths])
    removed = _union(part.remove_paths)

    def _anti(left, right):
        if left is None:
            return None
        if right is None or right.num_rows == 0:
            return left
        return left.join(
            right.select(keys), keys=keys, join_type="left anti"
        )

    out_parts = []

    def _emit(tbl, change_type):
        if tbl is None or tbl.num_rows == 0:
            return
        shaped = _shape_logical(tbl, part.columns, part.defaults, False)
        n = shaped.num_rows
        shaped = shaped.append_column(
            "_change_type", pa.array([change_type] * n, pa.string())
        )
        shaped = shaped.append_column(
            "_commit_version",
            pa.array([int(part.version)] * n, pa.int64()),
        )
        shaped = shaped.append_column(
            "_commit_timestamp",
            pc.cast(
                pa.array([int(part.ts_micros)] * n, pa.int64()),
                pa.timestamp("us", tz="UTC"),
            ),
        )
        out_parts.append(shaped)

    _emit(_anti(added, removed), "insert")
    _emit(_anti(removed, added), "delete")
    # newly DV-masked positions of files this commit did NOT remove
    for dv_path, targets in part.dvs:
        payload = [pq.read_table(dv_path, columns=dv_fmt.COLUMNS)]
        for obj in sorted(targets):
            pos = dv_fmt.masked_positions(payload, obj)
            if pos is not None:
                _emit(pq.read_table(targets[obj]).take(pos), "delete")
    for tbl in out_parts:
        for batch in tbl.to_batches():
            yield batch


class EngineTableDataSource(DataSource):
    """``spark.readStream.format("engine_table").option("table", t)
    .load(store_root)`` — see module docstring. Batch reads go through
    the client (scan/scan_as_of); this source is streaming-only.

    ``_bound_store``: a PICKLABLE ObjectStorage bound onto a dynamic
    subclass by :func:`register_engine_source` — cloudpickle ships
    class attributes by value into Spark's python-data-source worker,
    which is the one clean channel for a remote store object (options
    are strings-only and the worker is a separate process)."""

    _bound_store = None

    @classmethod
    def name(cls) -> str:
        return SOURCE_NAME

    def _resolve(self):
        if type(self)._bound_store is not None:
            return type(self)._bound_store
        return _resolve_store(
            self.options.get("storefactory"), self.options.get("path")
        )

    def schema(self) -> str:
        table = self.options.get("table")
        if not table:
            raise ValueError(
                "engine_table source: .option('table', <name>) is required"
            )
        store = self._resolve()
        snap = replay_log(store)
        if table not in snap.tables:
            raise ValueError(f"engine_table source: no table {table!r}")
        ddl = snap.tables[table]
        if str(self.options.get("readchangefeed", "false")).lower() == "true":
            return (
                f"{ddl}, _change_type string, _commit_version bigint,"
                " _commit_timestamp timestamp"
            )
        if str(self.options.get("withstamps", "false")).lower() == "true":
            ddl = f"{ddl}, {_TX_COL} bigint, {_IDX_COL} bigint"
        return ddl

    def streamReader(self, schema) -> EngineTableStreamReader:
        return EngineTableStreamReader(
            self.options.get("path"), self.options, store=self._resolve()
        )


def register_engine_source(spark, store=None, name=None) -> str:
    """Register the source on this session (idempotent); returns the
    format name. Passing a PICKLABLE ``store`` registers a dedicated
    format bound to it (remote object stores — the store object rides
    the pickled subclass into the data-source worker; boto3-backed
    clients are not picklable, use a ``"module:attr"`` storeFactory
    the worker can import instead)."""
    if store is None:
        spark.dataSource.register(EngineTableDataSource)
        return SOURCE_NAME
    import uuid as _uuid

    fmt = name or f"engine_table_{_uuid.uuid4().hex[:8]}"
    bound = type(
        "BoundEngineTableDataSource",
        (EngineTableDataSource,),
        {"_bound_store": store, "name": classmethod(lambda cls: fmt)},
    )
    spark.dataSource.register(bound)
    return fmt


def read_table_stream(
    spark,
    root: str,
    table: str,
    starting_version: int | None = None,
    starting_timestamp: str | None = None,
    skip_change_commits: bool = False,
    with_stamps: bool = False,
    read_change_feed: bool = False,
    max_commits_per_batch: int | None = None,
    max_files_per_batch: int | None = None,
    max_bytes_per_batch: int | None = None,
):
    """Convenience wrapper: a streaming DataFrame tailing ``table``.
    ``starting_version=None`` (default) = initial-snapshot-then-tail;
    an integer replays committed versions > it file-by-file.
    ``read_change_feed=True`` streams per-commit insert/delete rows
    (+ ``_change_type``/``_commit_version``/``_commit_timestamp``)
    instead of raising on change commits — Delta's readChangeFeed.
    ``max_commits_per_batch`` / ``max_files_per_batch`` /
    ``max_bytes_per_batch`` bound how far
    each micro-batch advances down the log (admission control: a
    resumed backlog drains in bounded batches instead of one huge
    catch-up trigger — Delta's maxFilesPerTrigger shape; commits are
    never split, so at least one commit admits per batch). With a
    file cap the INITIAL SNAPSHOT is bounded too: it pins one
    consistent version and drains it in file slices before the tail
    starts (at 100 TB the snapshot IS the backlog); with only a
    commit cap it stays a single batch of per-file partitions.
    Note: ``availableNow`` runs a SINGLE bounded
    batch per start for Python sources — rerun from the same
    checkpoint to keep draining, or use a processing-time trigger."""
    register_engine_source(spark)
    reader = (
        spark.readStream.format(SOURCE_NAME)
        .option("table", table)
        .option("skipChangeCommits", str(skip_change_commits).lower())
        .option("withStamps", str(with_stamps).lower())
        .option("readChangeFeed", str(read_change_feed).lower())
    )
    if starting_version is not None:
        reader = reader.option("startingVersion", str(starting_version))
    if starting_timestamp is not None:
        reader = reader.option("startingTimestamp", str(starting_timestamp))
    if max_commits_per_batch is not None:
        reader = reader.option("maxCommitsPerBatch", str(max_commits_per_batch))
    if max_files_per_batch is not None:
        reader = reader.option("maxFilesPerBatch", str(max_files_per_batch))
    if max_bytes_per_batch is not None:
        reader = reader.option("maxBytesPerBatch", str(max_bytes_per_batch))
    return reader.load(root)
