"""Transaction-log actions — a miniature of the open Delta Lake protocol.

The reference's ``Action`` is a 3-way union (one non-nil pointer) of
AddDataobject / DeleteDataobject / ChangeMetadata (reference
deltalakeclient/transactions.go:8-29). We keep the same three actions,
JSON-serialized one log record per commit, with two Spark-era upgrades:

- ``ChangeMetadata`` carries a **typed** schema (Spark ``StructType`` as
  DDL text) instead of a bare column-name list — this removes the
  reference's JSON-float wart (reference README.md:47-48) and
  schema-evolution explosion (README.md:45-46).
- ``AddDataObject`` optionally carries per-file column **min/max stats and
  row count**, the reference's own unchecked TODO (README.md:37). The
  snapshot uses them to prune the file list *before* Spark ever sees it —
  at 100 TB this is the difference between listing 10⁶ files and reading
  the handful whose [min,max] intersects the predicate.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Optional


@dataclass
class AddDataObject:
    """A Parquet data object became part of the table.

    ``tx_id`` is the id of the transaction whose rows the object holds.
    COW rewrites preserve the original ``tx_id`` (reference
    writes.go:142-144) so multi-version ordering survives rewrites; in our
    engine row order additionally lives in the ``_tx_id``/``_row_idx``
    columns stamped on every row.
    """

    name: str
    table: str
    tx_id: int
    num_rows: int = 0
    # on-disk parquet bytes (0 = unknown, e.g. pre-r10 log records):
    # powers byte-budgeted streaming admission (maxBytesPerBatch) and
    # any future size-aware compaction policy — Delta's AddFile.size
    size: int = 0
    # column -> [min, max] for prunable (int/float/str/date) columns
    stats: dict[str, list[Any]] = field(default_factory=dict)
    # column -> bloom JSON ({m, k, b64}) for declared bloom columns:
    # equality-lookup file pruning (reference README.md:37 roadmap)
    blooms: dict[str, dict[str, Any]] = field(default_factory=dict)
    # for BUCKETED tables: every row in this object hashes to this
    # bucket (pmod(murmur3(bucket_cols), n) — Spark's bucket id). The
    # label is what lets scan_bucketed expose the layout to Spark so
    # bucket-key joins plan no Exchange; COW rewrites of a single
    # object inherit its label (a row subset stays in its bucket).
    bucket_id: Optional[int] = None
    # add PROVENANCE for commit-time conflict resolution (Delta's
    # ConflictChecker distinguishes AddFiles that rewrite removed data
    # from fresh inserts): True = this object holds only rows carried
    # over from files the SAME commit removes/masks (COW rewrite,
    # compaction, DV materialization, RESTORE re-adds). Rewrite adds
    # introduce no rows a concurrent reader could not already have
    # seen, so they are exempt from the read-scope append check;
    # fresh-insert adds are not (a read-modify-write admitted against
    # a concurrent insert in its read range is a silent lost update).
    rewrite: bool = False

    def to_json(self) -> dict[str, Any]:
        out: dict[str, Any] = {
            "name": self.name,
            "table": self.table,
            "tx_id": self.tx_id,
            "num_rows": self.num_rows,
            "stats": self.stats,
        }
        if self.size:
            out["size"] = self.size
        if self.blooms:
            out["blooms"] = self.blooms
        if self.bucket_id is not None:
            out["bucket_id"] = self.bucket_id
        if self.rewrite:
            out["rw"] = True
        return {"add": out}

    @classmethod
    def from_json(cls, a: dict[str, Any]) -> "AddDataObject":
        """Inverse of :meth:`to_json`'s inner dict — the one parser of
        that shape (log records and inline checkpoint live lists)."""
        return cls(
            name=a["name"],
            table=a["table"],
            tx_id=int(a["tx_id"]),
            num_rows=int(a.get("num_rows", 0)),
            size=int(a.get("size", 0)),
            stats=a.get("stats", {}),
            blooms=a.get("blooms", {}),
            bucket_id=(
                int(a["bucket_id"]) if a.get("bucket_id") is not None else None
            ),
            rewrite=bool(a.get("rw", False)),
        )


@dataclass
class RemoveDataObject:
    """A data object left the table (COW delete / compaction)."""

    name: str
    table: str
    tx_id: int

    def to_json(self) -> dict[str, Any]:
        return {"remove": {"name": self.name, "table": self.table, "tx_id": self.tx_id}}


@dataclass
class ChangeMetadata:
    """Table created or schema replaced. ``schema_ddl`` is Spark DDL
    (e.g. ``"a STRING, b BIGINT"``); last-writer-wins on replay, same as
    the reference (transactions.go:88-94). ``primary_keys`` (optional)
    declares the upsert identity: the reference's 'primary keys /
    conditional updates with built-in dedup' roadmap item
    (README.md:31) — scans can then resolve current state without the
    caller re-supplying the key columns."""

    table: str
    schema_ddl: str
    primary_keys: list[str] = field(default_factory=list)
    # columns carrying per-file bloom filters (opt-in; point-lookup
    # pruning on high-cardinality non-clustered columns)
    bloom_columns: list[str] = field(default_factory=list)
    # declared clustering: bulk ingest range-partitions + sorts on these
    # columns so every data object covers a tight [min, max] slice —
    # file-level stats pruning then acts as partition pruning, without a
    # hive-style directory layout (Spark-first liquid-clustering analog)
    cluster_by: list[str] = field(default_factory=list)
    # declared bucketing: every write hashes rows on these columns into
    # ``bucket_count`` buckets (Spark's pmod(murmur3, n)), each data
    # object labeled with its bucket — scan_bucketed then exposes the
    # layout so joins/aggs on the bucket key plan no Exchange. Set at
    # CREATE only (relabeling existing objects would need a full
    # rewrite); mutually exclusive with cluster_by.
    bucket_by: list[str] = field(default_factory=list)
    bucket_count: int = 0
    # declared CHECK constraints: name -> boolean SQL expression over
    # the table's columns (Delta's ALTER TABLE ADD CONSTRAINT CHECK).
    # Every staged write evaluates them in-plan and RAISES on the
    # first violating row — the lakehouse ingest-quality gate: no file
    # written while a constraint is active can violate it. alter_table
    # validates EXISTING rows when a constraint is added.
    checks: dict[str, str] = field(default_factory=dict)
    # Column mapping (Delta's columnMapping.mode=name, simplified):
    # logical (user-visible) column name -> physical (in-file) name.
    # Physical names are assigned at column birth and NEVER change;
    # RENAME moves only the logical side and DROP retires the physical
    # name — both O(1) metadata, no data rewrite. ``retired_phys``
    # lists physical names of dropped columns so a later add_columns
    # can never reuse one (reuse would resurrect old file data into
    # the new column). Records that change the mapping carry the FULL
    # map (identity entries included); an empty map means "no mapping
    # info in this record" on non-authoritative records and "identity
    # mapping" on authoritative ones (ALTER/RESTORE carry the current/
    # historical map explicitly).
    column_map: dict[str, str] = field(default_factory=dict)
    retired_phys: list[str] = field(default_factory=list)
    # Column DEFAULTs (Delta's existingDefault, simplified): logical
    # column name -> {"v": JSON literal, "birth": tx id the column was
    # added in}. Rows STAMPED before the birth tx read the default
    # wherever they hold NULL in the column (the ``_tx_id`` stamp
    # survives COW rewrites, so the test is rewrite-stable); rows
    # written at/after birth read their stored value, explicit NULLs
    # included. Same record-merge semantics as column_map: authoritative
    # records REPLACE the map, non-authoritative ones update it only
    # when non-empty.
    col_defaults: dict[str, dict] = field(default_factory=dict)
    # GENERATED columns (Delta's GENERATED ALWAYS AS, declared at
    # CREATE): logical column name -> SQL generation expression over
    # the table's other columns. Values are MATERIALIZED at write
    # (computed when the writer omits the column, validated by the
    # implicit CHECK ``col <=> (expr)`` when supplied), so reads and
    # stats pruning need no expression knowledge — a predicate on the
    # generated column prunes files exactly like any stored column
    # (the partition-style-pruning use Delta gets from generated
    # partition columns). Same record-merge semantics as column_map.
    generated: dict[str, str] = field(default_factory=dict)
    # IDENTITY columns (Delta's GENERATED ALWAYS AS IDENTITY): logical
    # column name -> {"start": first value, "step": increment,
    # "high": furthest value allocated so far (start - step when
    # nothing allocated)}. Values are minted at write when the writer
    # omits/NULLs the column; supplying one is an error (ALWAYS).
    # Every allocating commit carries an authoritative metadata record
    # with the advanced high-water mark, so concurrent allocators
    # CONFLICT at commit (metadata change = genuine overlap) and the
    # retry re-reads a fresh mark — two racing inserters can never
    # mint the same id. Same record-merge semantics as column_map.
    identity: dict[str, dict] = field(default_factory=dict)
    # True ONLY on the identity high-water-mark advance records that
    # _emit_identity_advances appends: the record is guaranteed to
    # differ from the prior table state in identity "high" values
    # alone, so readers whose shape cannot depend on the mark — the
    # streaming source's schema-change guard — may SKIP it (without
    # this, every insert into an identity table would kill tailing
    # streams with SchemaChangedError; Delta's identity watermark
    # updates don't invalidate streams either).
    ident_only: bool = False
    # With ``authoritative=True`` the declaration lists REPLACE the
    # table's current ones — empty lists CLEAR prior declarations
    # (RESTORE / ALTER need this). Default False keeps the legacy
    # fold: empty lists mean "leave existing declarations alone"
    # (schema-evolution records carry only the widened DDL).
    authoritative: bool = False

    def to_json(self) -> dict[str, Any]:
        out: dict[str, Any] = {"table": self.table, "schema_ddl": self.schema_ddl}
        for f, _, _ in DECLARATIONS:
            if getattr(self, f):
                out[f] = getattr(self, f)
        if self.bucket_by:
            out["bucket_by"] = self.bucket_by
            out["bucket_count"] = self.bucket_count
        if self.ident_only:
            out["io"] = True
        if self.authoritative:
            out["authoritative"] = True
        return {"metadata": out}


def _copy_nested(m: dict[str, dict]) -> dict[str, dict]:
    return {k: dict(v) for k, v in m.items()}


# The per-table declarations a ChangeMetadata carries, each named once
# as (ChangeMetadata field, Snapshot map = checkpoint key, copy). Every
# hop — log record, fold, checkpoint, tx view, authoritative re-emit,
# RESTORE — iterates this table, so a new declaration is one field on
# each class plus one row here. Each copy maps ``{}`` to the empty
# value, which is how an absent declaration reads. Bucketing stays
# outside: ``bucket_by`` + ``bucket_count`` fold into ONE
# ``Snapshot.bucket_specs`` entry, popped when an authoritative record
# declares none.
DECLARATIONS: tuple[tuple[str, str, Any], ...] = (
    ("primary_keys", "pkeys", list),
    ("bloom_columns", "bloom_cols", list),
    ("cluster_by", "cluster_cols", list),
    ("checks", "checks", dict),
    ("column_map", "col_maps", dict),
    ("retired_phys", "retired", list),
    ("col_defaults", "defaults", _copy_nested),
    ("generated", "generated", dict),
    ("identity", "identity", _copy_nested),
)


@dataclass
class Protocol:
    """Log-wide protocol upgrade (Delta's ``protocol`` action, feature
    form — see plans/protocol.py). ``reader_features`` must be
    understood to READ the log correctly; ``writer_features`` to COMMIT
    without corrupting a feature-maintained invariant. Folding is a
    SET UNION — monotone and order-independent, so concurrent upgrades
    reconcile without conflict. The reference's analogue is the
    unknown-action panic (transactions.go:95-97); this action extends
    that loud-failure contract to new semantics riding EXISTING action
    shapes (identity allocation, column mapping, vacuum truncation),
    which an old parser would otherwise accept and then mishandle."""

    reader_features: list[str] = field(default_factory=list)
    writer_features: list[str] = field(default_factory=list)

    def to_json(self) -> dict[str, Any]:
        return {
            "protocol": {
                "rf": sorted(set(self.reader_features)),
                "wf": sorted(set(self.writer_features)),
            }
        }


@dataclass
class DropTable:
    """Table removed from the lake (DROP TABLE). Folding removes the
    table from the snapshot's schema map and clears its live set and
    every per-table metadata carrier, so the next checkpoint sheds the
    table entirely (no live entries, no sidecar part references) and
    ``vacuum`` reclaims its data/DV/bloom objects once no retained
    version references them.

    Deliberately O(1): the record names the table, not its files. An
    explicit ``RemoveDataObject`` per live file would make dropping a
    10⁶-file table a multi-megabyte log record, and buys nothing —
    clearing the live set on fold is observationally identical to
    folding that many removes (vacuum's keep-set, the change feed's
    snapshot diff, and checkpoint serialization all read the folded
    live set, never the remove actions themselves).

    A recreate under the same name gets a FRESH lineage: the drop
    cleared every metadata carrier (column maps, retired physical
    names, identity marks...), and the old data objects — invisible,
    since no live entry references them — are reclaimed by vacuum.
    Time travel BELOW the drop still reads the table (the pinned
    replay never folds the drop), bounded by vacuum's data retention.

    This is a new ACTION KIND, so a legacy parser fails on it loudly
    (the reference's unknown-action panic, transactions.go:95-97, is
    this exact contract); :meth:`DeltaLakeClient.drop_table`
    additionally pre-stamps the ``dropTable`` protocol feature in an
    EARLIER commit so masked/legacy clients get the NAMED gating error
    at the protocol fold before ever reaching the unparseable record.
    """

    table: str
    tx_id: int

    def to_json(self) -> dict[str, Any]:
        return {"drop": {"table": self.table, "tx_id": self.tx_id}}


@dataclass
class AddDeletionVector:
    """Soft delete: ``dv_name`` is a Parquet object of (obj, row_idx)
    pairs masking rows of live data objects in ``objects`` — the
    reference's unchecked roadmap item (README.md:38) and the Delta/
    Iceberg positional-delete pattern. Scans anti-join the mask; a
    later COW rewrite or compaction of a masked object materializes
    the deletion and retires the vector (removing an object drops its
    DVs on replay)."""

    table: str
    dv_name: str
    objects: list[str]
    tx_id: int
    num_deleted: int = 0

    def to_json(self) -> dict[str, Any]:
        return {
            "dv": {
                "table": self.table,
                "dv_name": self.dv_name,
                "objects": self.objects,
                "tx_id": self.tx_id,
                "num_deleted": self.num_deleted,
            }
        }


Action = (
    AddDataObject
    | RemoveDataObject
    | ChangeMetadata
    | AddDeletionVector
    | Protocol
    | DropTable
)


def action_from_json(obj: dict[str, Any]) -> Action:
    if "add" in obj:
        return AddDataObject.from_json(obj["add"])
    if "remove" in obj:
        r = obj["remove"]
        return RemoveDataObject(name=r["name"], table=r["table"], tx_id=int(r["tx_id"]))
    if "metadata" in obj:
        m = obj["metadata"]
        return ChangeMetadata(
            table=m["table"],
            schema_ddl=m["schema_ddl"],
            bucket_by=list(m.get("bucket_by", [])),
            bucket_count=int(m.get("bucket_count", 0)),
            ident_only=bool(m.get("io", False)),
            authoritative=bool(m.get("authoritative", False)),
            **{f: copy(m.get(f, {})) for f, _, copy in DECLARATIONS},
        )
    if "protocol" in obj:
        p = obj["protocol"]
        return Protocol(
            reader_features=list(p.get("rf", [])),
            writer_features=list(p.get("wf", [])),
        )
    if "drop" in obj:
        d = obj["drop"]
        return DropTable(table=d["table"], tx_id=int(d["tx_id"]))
    if "dv" in obj:
        d = obj["dv"]
        return AddDeletionVector(
            table=d["table"],
            dv_name=d["dv_name"],
            objects=list(d["objects"]),
            tx_id=int(d["tx_id"]),
            num_deleted=int(d.get("num_deleted", 0)),
        )
    # Unknown action => corrupt log; fail loudly like the reference's
    # panic (transactions.go:95-97).
    raise ValueError(f"unknown action record: {obj!r}")
