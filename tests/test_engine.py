"""Engine correctness tests — pytest ports of the reference's entire test
suite (reference main_test.go, 4 tests; see SURVEY.md §5) plus unit tests
for the storage/log/stat layers the reference doesn't cover.
"""

import glob
import os
import random

import pytest
from pyspark.sql import functions as F

from delta_lake_experiment_spark import (
    ConcurrentCommitError,
    DeltaLakeClient,
    ExistingTxError,
    LocalObjectStorage,
    NoTxError,
    TableExistsError,
    TypeMismatchError,
)
from delta_lake_experiment_spark.errors import (
    ObjectExistsError,
    TableNotFoundError,
)
from delta_lake_experiment_spark.plans.snapshot import replay_log


def drain(client, table):
    return list(client.scan_iter(table))


# ----------------------------------------------------------------------
# storage layer
# ----------------------------------------------------------------------


def test_put_if_absent_atomicity(store_dir):
    store = LocalObjectStorage(store_dir)
    store.put_if_absent("a", b"1")
    with pytest.raises(ObjectExistsError):
        store.put_if_absent("a", b"2")
    assert store.read("a") == b"1"
    store.put_if_absent("b", b"3")
    assert store.list_prefix_ordered("") == ["a", "b"]


def test_log_ordering(store_dir):
    store = LocalObjectStorage(store_dir)
    for v in [3, 1, 10, 2]:
        store.put_if_absent(f"_log_{v:020d}", b"{}")
    names = store.list_prefix_ordered("_log_")
    assert [int(n[5:]) for n in names] == [1, 2, 3, 10]


# ----------------------------------------------------------------------
# reference test 1: TestConcurrentTableWriters (main_test.go:14-59)
# ----------------------------------------------------------------------


def test_concurrent_table_writers(spark, store_dir):
    c1 = DeltaLakeClient(spark, store_dir, dataobject_size=10)
    c2 = DeltaLakeClient(spark, LocalObjectStorage(store_dir), dataobject_size=10)
    c1.new_tx()
    c2.new_tx()
    with pytest.raises(ExistingTxError):
        c1.new_tx()

    c1.create_table("x", "a STRING, b BIGINT")
    c1.write_row("x", ["Joey", 1])
    c2.create_table("x", "a STRING, b BIGINT")
    c2.write_row("x", ["Yue", 2])

    c1.commit_tx()  # first committer wins
    with pytest.raises(ConcurrentCommitError):
        c2.commit_tx()

    # the loser's work is invisible
    c1.new_tx()
    assert drain(c1, "x") == [("Joey", 1)]
    c1.commit_tx()


# ----------------------------------------------------------------------
# reference test 2: TestConcurrentReaderWithWriterReadsSnapshot
# (main_test.go:61-175)
# ----------------------------------------------------------------------


def test_snapshot_isolation(spark, store_dir):
    writer = DeltaLakeClient(spark, store_dir, dataobject_size=10)
    reader = DeltaLakeClient(spark, LocalObjectStorage(store_dir), dataobject_size=10)

    writer.new_tx()
    writer.create_table("x", "a STRING, b BIGINT")
    writer.write_row("x", ["Joey", 1])
    writer.write_row("x", ["Yue", 2])
    writer.commit_tx()

    writer.new_tx()
    writer.write_row("x", ["Alice", 3])  # uncommitted, unflushed

    reader.new_tx()  # snapshot fixed here
    # reader sees exactly the 2 committed rows, newest first
    assert drain(reader, "x") == [("Yue", 2), ("Joey", 1)]
    # writer's own scan sees its uncommitted row first
    assert drain(writer, "x") == [("Alice", 3), ("Yue", 2), ("Joey", 1)]

    reader.commit_tx()  # read-only commit always succeeds
    writer.commit_tx()

    reader.new_tx()
    assert drain(reader, "x") == [("Alice", 3), ("Yue", 2), ("Joey", 1)]
    reader.commit_tx()


# ----------------------------------------------------------------------
# reference test 3: TestDeletes (main_test.go:199-261)
# ----------------------------------------------------------------------


def test_deletes(spark, store_dir):
    c = DeltaLakeClient(spark, store_dir, dataobject_size=10)
    c.new_tx()
    c.create_table("x", "a STRING, b BIGINT")
    for row in [["Joey", 1], ["Yue", 2], ["Alice", 3]]:
        c.write_row("x", row)

    # delete over unflushed rows (tombstones), visible immediately
    c.delete_rows("x", "b", 2, 2)
    assert drain(c, "x") == [("Alice", 3), ("Joey", 1)]
    c.commit_tx()

    # delete over committed/flushed rows (COW rewrite)
    c.new_tx()
    c.delete_rows("x", "b", 2, 4)
    assert drain(c, "x") == [("Joey", 1)]
    c.commit_tx()

    # persists post-commit
    c.new_tx()
    assert drain(c, "x") == [("Joey", 1)]
    c.commit_tx()


def test_delete_type_mismatch(spark, store_dir):
    c = DeltaLakeClient(spark, store_dir, dataobject_size=10)
    c.new_tx()
    c.create_table("x", "a STRING, b BIGINT")
    c.write_row("x", ["Joey", 1])
    with pytest.raises(TypeMismatchError):
        c.delete_rows("x", "b", "2", "4")
    with pytest.raises(TypeMismatchError):
        c.delete_rows("x", "a", 1, 2)
    c.abort_tx()


def test_malformed_ddl_raises_named_error(spark, store_dir):
    """VERDICT r14 #3 close: malformed column DDL raises the exported
    TypeMismatchError (parser message attached) from EVERY DDL
    doorway — create, replace, and ALTER — never Spark's raw
    ParseException. A failing replace additionally leaves the
    transaction untouched (no orphaned uncommitted drop)."""
    c = DeltaLakeClient(spark, store_dir, dataobject_size=10)
    c.new_tx()
    with pytest.raises(TypeMismatchError, match="invalid column DDL"):
        c.create_table("bad1", "k int, bad notatype")
    c.create_table("keep", "k INT, v STRING")
    c.write_row("keep", [1, "a"])
    c.commit_tx()
    c.new_tx()
    with pytest.raises(TypeMismatchError, match="invalid column DDL"):
        c.create_or_replace_table("keep", "k int, bad notatype")
    # ALTER doorway: the same parse feeds add_columns
    with pytest.raises(TypeMismatchError, match="invalid column DDL"):
        c.add_columns("keep", "w notatype")
    # the failed replace left no uncommitted drop behind
    c.write_row("keep", [2, "b"])
    c.commit_tx()
    c.new_tx()
    assert c.scan("keep", with_stamps=False).count() == 2
    c.abort_tx()


def test_requires_tx_and_table_guards(spark, store_dir):
    c = DeltaLakeClient(spark, store_dir)
    with pytest.raises(NoTxError):
        c.write_row("x", ["a", 1])
    with pytest.raises(NoTxError):
        c.scan("x")
    c.new_tx()
    c.create_table("x", "a STRING")
    with pytest.raises(TableExistsError):
        c.create_table("x", "a STRING")
    c.abort_tx()


# ----------------------------------------------------------------------
# reference test 4: TestRandomizedOperations (main_test.go:263-344)
# seeded model-based: engine vs dict oracle, one tx per op
# ----------------------------------------------------------------------


@pytest.mark.slow
def test_randomized_operations(spark, store_dir):
    NUM_OPS, NUM_KEYS, SEED = 120, 20, 42
    rng = random.Random(SEED)
    c = DeltaLakeClient(spark, store_dir, dataobject_size=10)

    c.new_tx()
    c.create_table("users", "idx BIGINT, username STRING, val BIGINT")
    model = {}
    for i in range(NUM_KEYS):
        c.write_row("users", [i, f"User{i}", 2 * i])
        model[i] = 2 * i
    c.commit_tx()

    for _ in range(NUM_OPS):
        op = rng.randint(0, 2)
        key = rng.randint(0, NUM_KEYS - 1)
        c.new_tx()
        if op == 0:  # upsert: append a new version
            val = rng.randint(0, 10**6)
            c.write_row("users", [key, f"User{key}", val])
            model[key] = val
            c.commit_tx()
        elif op == 1:  # range delete on the key column
            c.delete_rows("users", "idx", key, key)
            model.pop(key, None)
            c.commit_tx()
        else:  # read: latest-version-wins must match the model
            seen = {}
            for idx, username, val in c.scan_iter("users"):
                if idx not in seen:  # first seen == newest version
                    seen[idx] = val
            assert seen == model
            c.commit_tx()

    c.new_tx()
    seen = {}
    for idx, _, val in c.scan_iter("users"):
        seen.setdefault(idx, val)
    assert seen == model
    c.commit_tx()


# ----------------------------------------------------------------------
# Spark-era engine features beyond the reference
# ----------------------------------------------------------------------


def test_bulk_write_and_scan_latest(spark, store_dir):
    c = DeltaLakeClient(spark, store_dir)
    c.new_tx()
    c.create_table("t", "k BIGINT, v BIGINT")
    df1 = spark.range(100).selectExpr("id AS k", "id AS v")
    c.write_dataframe("t", df1)
    c.commit_tx()

    c.new_tx()
    df2 = spark.range(50).selectExpr("id AS k", "id * 10 AS v")  # new versions
    c.write_dataframe("t", df2)
    c.commit_tx()

    c.new_tx()
    assert c.scan("t").count() == 150  # all versions live
    latest = {r["k"]: r["v"] for r in c.scan_latest("t", ["k"]).collect()}
    assert latest == {k: (k * 10 if k < 50 else k) for k in range(100)}
    c.commit_tx()


@pytest.mark.slow
def test_bulk_write_stamps_unique_above_512_partitions(spark, store_dir):
    """Two bulk writes in ONE tx at >512 partitions: with a fixed 2^42
    stride, monotonically_increasing_id's partition bits (bits 33+)
    overflow into the next write's range and stamps collide. next_idx
    must instead advance past the true footer max, keeping every stamp
    unique and the second write strictly newer in scan order."""
    c = DeltaLakeClient(spark, store_dir)
    c.new_tx()
    c.create_table("t", "k BIGINT, v STRING")
    n_parts = 600
    df1 = spark.range(n_parts).repartition(n_parts).selectExpr("id AS k", "'old' AS v")
    df2 = spark.range(n_parts).repartition(n_parts).selectExpr("id AS k", "'new' AS v")
    c.write_dataframe("t", df1)
    c.write_dataframe("t", df2)
    c.commit_tx()

    c.new_tx()
    stamped = c.scan("t").select("k", "v", "_tx_id", "_row_idx").collect()
    stamps = [(r["_tx_id"], r["_row_idx"]) for r in stamped]
    assert len(stamps) == len(set(stamps)) == 2 * n_parts  # no collisions
    # latest-version-wins must pick every 'new' row — ordering intact
    latest = {r["k"]: r["v"] for r in c.scan_latest("t", ["k"]).collect()}
    assert latest == {k: "new" for k in range(n_parts)}
    c.commit_tx()


def test_sql_over_engine_tables(spark, store_dir):
    c = DeltaLakeClient(spark, store_dir)
    c.new_tx()
    c.create_table("dim", "k BIGINT, name STRING")
    c.create_table("fact", "k BIGINT, amount BIGINT")
    c.write_dataframe("dim", spark.createDataFrame([(1, "a"), (2, "b")], "k BIGINT, name STRING"))
    c.write_dataframe(
        "fact",
        spark.createDataFrame([(1, 10), (1, 20), (2, 5)], "k BIGINT, amount BIGINT"),
    )
    c.commit_tx()

    c.new_tx()
    c.register_views()
    out = {
        r["name"]: r["total"]
        for r in c.sql(
            "SELECT name, SUM(amount) AS total FROM fact JOIN dim USING (k) GROUP BY name"
        ).collect()
    }
    assert out == {"a": 30, "b": 5}
    # snapshot consistency: a commit from another client doesn't shift
    # an already-registered view
    c2 = DeltaLakeClient(spark, store_dir)
    c2.new_tx()
    c2.write_dataframe("fact", spark.createDataFrame([(2, 100)], "k BIGINT, amount BIGINT"))
    c2.commit_tx()
    assert c.sql("SELECT COUNT(*) AS n FROM fact").first()["n"] == 3
    c.commit_tx()


def test_primary_keys_scan_current(spark, store_dir):
    import pytest

    from delta_lake_experiment_spark.errors import TypeMismatchError

    c = DeltaLakeClient(spark, store_dir)
    c.new_tx()
    with pytest.raises(TypeMismatchError):
        c.create_table("bad", "k BIGINT, v STRING", primary_keys=["nope"])
    c.create_table("kv", "k BIGINT, v STRING", primary_keys=["k"])
    c.create_table("nopk", "k BIGINT, v STRING")
    c.write_dataframe(
        "kv", spark.createDataFrame([(1, "a"), (2, "b")], "k BIGINT, v STRING")
    )
    c.commit_tx()
    c.new_tx()
    c.write_dataframe("kv", spark.createDataFrame([(1, "a2")], "k BIGINT, v STRING"))
    c.commit_tx()

    # fresh client: pkeys replay from the log
    c2 = DeltaLakeClient(spark, store_dir)
    c2.new_tx()
    got = {r["k"]: r["v"] for r in c2.scan_current("kv").collect()}
    assert got == {1: "a2", 2: "b"}
    with pytest.raises(TypeMismatchError):
        c2.scan_current("nopk")
    c2.commit_tx()


def test_restore_table(spark, store_dir):
    """RESTORE is pure metadata: flip the live set (and DV masks) back
    to a prior version in one commit; undoable by another restore."""
    c = DeltaLakeClient(spark, store_dir, dataobject_size=5)
    c.new_tx()
    c.create_table("t", "k BIGINT, v BIGINT")
    for i in range(20):
        c.write_row("t", [i, i])
    c.commit_tx()  # v1: 20 rows
    c.new_tx()
    c.delete_rows("t", "k", 0, 4)  # COW
    c.commit_tx()  # v2: 15 rows
    c.new_tx()
    c.delete_rows("t", "k", 10, 12, use_dv=True)
    c.commit_tx()  # v3: 12 rows

    c.new_tx()
    c.restore_table("t", 1)
    assert c.scan("t").count() == 20  # visible pre-commit
    c.commit_tx()  # v4 == v1 state
    c.new_tx()
    assert {r["k"] for r in c.scan("t", with_stamps=False).collect()} == set(range(20))
    # restore forward to the DV state
    c.restore_table("t", 3)
    c.commit_tx()  # v5 == v3 state
    c2 = DeltaLakeClient(spark, store_dir, dataobject_size=5)
    c2.new_tx()
    assert {r["k"] for r in c2.scan("t", with_stamps=False).collect()} == (
        set(range(5, 20)) - {10, 11, 12}
    )
    # time travel across the restores still works
    assert c2.scan_as_of("t", 4).count() == 20
    assert c2.scan_as_of("t", 2).count() == 15
    c2.commit_tx()


def test_restore_table_restores_metadata(spark, store_dir):
    """RESTORE must roll back schema/primary-key changes made after the
    target version (like Delta's RESTORE), or restored objects would be
    read with the wrong schema."""
    c = DeltaLakeClient(spark, store_dir)
    c.new_tx()
    c.create_table("t", "k BIGINT, v STRING", primary_keys=["k"])
    c.write_dataframe("t", spark.createDataFrame([(1, "a")], "k BIGINT, v STRING"))
    c.commit_tx()  # v1

    c.new_tx()
    c.add_columns("t", "extra BIGINT")
    c.write_dataframe(
        "t", spark.createDataFrame([(2, "b", 9)], "k BIGINT, v STRING, extra BIGINT")
    )
    c.commit_tx()  # v2: wider schema

    c.new_tx()
    c.restore_table("t", 1)
    assert [f.name for f in c.table_schema("t").fields] == ["k", "v"]  # pre-commit
    c.commit_tx()  # v3 == v1

    c2 = DeltaLakeClient(spark, store_dir)
    c2.new_tx()
    assert [f.name for f in c2.table_schema("t").fields] == ["k", "v"]
    assert c2._effective_snapshot(c2.tx).pkeys.get("t") == ["k"]
    assert {r["k"] for r in c2.scan("t", with_stamps=False).collect()} == {1}
    c2.commit_tx()


def test_alter_table_and_restore_clears_declarations(spark, store_dir):
    """ADVICE r2: metadata rollback was incomplete — Snapshot.apply
    only overwrote declarations when non-empty, so RESTORE could never
    clear primary keys and never restored bloom/cluster declarations.
    ALTER + RESTORE now emit AUTHORITATIVE metadata actions whose
    empty lists clear prior declarations."""
    import pytest

    c = DeltaLakeClient(spark, store_dir)
    c.new_tx()
    c.create_table("t", "k BIGINT, v STRING")  # no declarations
    c.write_dataframe("t", spark.createDataFrame([(1, "a")], "k BIGINT, v STRING"))
    c.commit_tx()  # v1

    c.new_tx()
    c.alter_table("t", primary_keys=["k"], bloom_columns=["k"], cluster_by=["k"])
    with pytest.raises(TypeMismatchError):
        c.alter_table("t", bloom_columns=["nope"])
    c.commit_tx()  # v2: declarations added
    c.new_tx()
    snap = c._effective_snapshot(c.tx)
    assert snap.pkeys.get("t") == ["k"]
    assert snap.bloom_cols.get("t") == ["k"]
    assert snap.cluster_cols.get("t") == ["k"]
    # declared blooms now apply to new writes on the previously
    # bloom-less table (alter is user-reachable, not just restore fuel)
    c.write_dataframe("t", spark.createDataFrame([(7, "b")], "k BIGINT, v STRING"))
    c.commit_tx()  # v3
    c.new_tx()
    objs = c._effective_snapshot(c.tx).live_objects("t")
    assert any(o.blooms.get("k") for o in objs)
    c.restore_table("t", 1)
    c.commit_tx()  # v4 == v1: declarations must CLEAR

    c2 = DeltaLakeClient(spark, store_dir)
    c2.new_tx()
    snap2 = c2._effective_snapshot(c2.tx)
    assert snap2.pkeys.get("t", []) == []
    assert snap2.bloom_cols.get("t", []) == []
    assert snap2.cluster_cols.get("t", []) == []
    with pytest.raises(TypeMismatchError):
        c2.scan_current("t")  # no pkeys declared anymore
    assert {r["k"] for r in c2.scan("t", with_stamps=False).collect()} == {1}
    c2.commit_tx()


def test_merge_into(spark, store_dir):
    import pytest

    from delta_lake_experiment_spark.errors import TypeMismatchError

    c = DeltaLakeClient(spark, store_dir)
    c.new_tx()
    c.create_table("kv", "k BIGINT, v STRING", primary_keys=["k"])
    c.create_table("nopk", "k BIGINT, v STRING")
    c.write_dataframe(
        "kv", spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k BIGINT, v STRING")
    )
    c.commit_tx()

    c.new_tx()
    src = spark.createDataFrame([(2, "B"), (4, "D")], "k BIGINT, v STRING")
    with pytest.raises(TypeMismatchError):
        c.merge("nopk", src)
    out = c.merge("kv", src)  # update matched, insert unmatched
    assert out == {"updated": 1, "deleted": 0, "inserted": 1}
    cur = {r["k"]: r["v"] for r in c.scan_current("kv").collect()}
    assert cur == {1: "a", 2: "B", 3: "c", 4: "D"}
    c.commit_tx()

    # matched-delete via deletion vector, unmatched ignored
    c.new_tx()
    src2 = spark.createDataFrame([(1, "x"), (99, "x")], "k BIGINT, v STRING")
    out2 = c.merge("kv", src2, when_matched="delete", when_not_matched="ignore")
    assert out2["deleted"] >= 1 and out2["inserted"] == 0
    cur2 = {r["k"]: r["v"] for r in c.scan_current("kv").collect()}
    assert cur2 == {2: "B", 3: "c", 4: "D"}
    c.commit_tx()
    c2 = DeltaLakeClient(spark, store_dir)
    c2.new_tx()
    assert {r["k"] for r in c2.scan_current("kv").collect()} == {2, 3, 4}
    c2.commit_tx()


def test_merge_delete_masks_same_tx_buffered_rows(spark, store_dir):
    """Rows still sitting in the write_row buffer when merge() runs must
    participate: a matched buffered row must be deleted by
    when_matched='delete', not survive because the DV mask only covered
    flushed objects."""
    c = DeltaLakeClient(spark, store_dir)
    c.new_tx()
    c.create_table("kv", "k BIGINT, v STRING", primary_keys=["k"])
    c.write_dataframe("kv", spark.createDataFrame([(1, "a")], "k BIGINT, v STRING"))
    c.commit_tx()

    c.new_tx()
    c.write_row("kv", [2, "buffered"])  # stays in the buffer
    src = spark.createDataFrame([(1, "x"), (2, "x")], "k BIGINT, v STRING")
    out = c.merge("kv", src, when_matched="delete", when_not_matched="ignore")
    assert out["deleted"] == 2 and out["inserted"] == 0
    assert c.scan_current("kv").count() == 0  # both keys gone, pre-commit
    c.commit_tx()
    c.new_tx()
    assert c.scan_current("kv").count() == 0  # and post-commit
    c.commit_tx()


def test_write_dataframe_merge_schema(spark, store_dir):
    """mergeSchema-on-write: unknown frame columns evolve the table
    (old rows read NULL); missing table columns null-fill instead of
    rejecting; default strict mode still errors."""
    c = DeltaLakeClient(spark, store_dir)
    c.new_tx()
    c.create_table("t", "k BIGINT, v STRING")
    c.write_dataframe("t", spark.createDataFrame([(1, "a")], "k BIGINT, v STRING"))
    c.commit_tx()

    c.new_tx()
    wider = spark.createDataFrame([(2, "b", 9.5)], "k BIGINT, v STRING, score DOUBLE")
    import pytest as _pytest

    from delta_lake_experiment_spark.errors import TypeMismatchError

    c.write_dataframe("t", wider)  # strict mode: extra column silently projected away? no —
    c.commit_tx()
    c.new_tx()
    assert [f.name for f in c.table_schema("t").fields] == ["k", "v"]  # unchanged

    c.write_dataframe("t", wider, merge_schema=True)  # evolves schema
    assert [f.name for f in c.table_schema("t").fields] == ["k", "v", "score"]
    # narrow frame now null-fills the new column
    c.write_dataframe(
        "t", spark.createDataFrame([(3, "c")], "k BIGINT, v STRING"), merge_schema=True
    )
    # but strict mode rejects a frame missing table columns
    with _pytest.raises(TypeMismatchError):
        c.write_dataframe("t", spark.createDataFrame([(4, "d")], "k BIGINT, v STRING"))
    c.commit_tx()

    c2 = DeltaLakeClient(spark, store_dir)
    c2.new_tx()
    rows = {
        (r["k"], r["v"], r["score"])
        for r in c2.scan("t", with_stamps=False).collect()
    }
    # k=2 has two versions: the strict write (score projected away) and
    # the merged write carrying 9.5; k=1 predates the evolution
    assert rows == {(1, "a", None), (2, "b", None), (2, "b", 9.5), (3, "c", None)}
    c2.commit_tx()


def test_run_tx_retries_occ_conflicts(spark, store_dir):
    """run_tx re-executes the closure on a same-table commit conflict
    with a fresh snapshot; the interloper's write must be visible to
    the retry."""
    a = DeltaLakeClient(spark, store_dir)
    b = DeltaLakeClient(spark, store_dir)
    a.new_tx()
    a.create_table("t", "k BIGINT, v STRING")
    a.write_row("t", [1, "x"])
    a.commit_tx()

    calls = {"n": 0}

    def work(c):
        calls["n"] += 1
        if calls["n"] == 1:  # interloper rewrites OUR target file mid-tx
            b.new_tx()
            b.delete_rows("t", "k", 1, 1)
            b.commit_tx()
        seen = c.scan("t", with_stamps=False).count()
        # attempt 1: both deletes target k=1's object -> real conflict
        # (append-append would be ADMITTED at file granularity, r9);
        # attempt 2: fresh snapshot, nothing left to delete
        c.delete_rows("t", "k", 1, 1)
        c.write_dataframe("t", spark.createDataFrame([(2, "a")], "k BIGINT, v STRING"))
        return seen

    seen_at_commit = a.run_tx(work)
    assert calls["n"] == 2  # first attempt conflicted, second committed
    assert seen_at_commit == 0  # retry saw the interloper's delete
    a.new_tx()
    assert a.scan("t", with_stamps=False).count() == 1
    a.commit_tx()

    # exhausted retries surface the conflict
    import pytest as _pytest

    def always_conflict(c):
        # a RENAME is a metadata change: file-granularity admission
        # (r9) never admits those, so every attempt genuinely conflicts
        b.new_tx()
        b.write_dataframe("t", spark.createDataFrame([(9, "x")], "k BIGINT, v STRING"))
        b.commit_tx()
        c.rename_column("t", "v", f"v_{c.tx.id}")

    with _pytest.raises(ConcurrentCommitError):
        a.run_tx(always_conflict, retries=1)
    assert a.tx is None  # no transaction left dangling


def test_vacuum(spark, store_dir):
    c = DeltaLakeClient(spark, store_dir, dataobject_size=5)
    c.new_tx()
    c.create_table("t", "k BIGINT, v BIGINT")
    for i in range(20):
        c.write_row("t", [i, i])
    c.commit_tx()  # v1: 4 objects
    c.new_tx()
    c.delete_rows("t", "k", 0, 9)  # rewrites 2 objects
    c.commit_tx()  # v2

    import pytest

    from delta_lake_experiment_spark.errors import ExistingTxError

    c.new_tx()
    with pytest.raises(ExistingTxError):
        c.vacuum()
    c.abort_tx()

    n_objects = len(c.store.list_prefix_ordered("table_"))
    # retain v1 and v2: nothing reclaimable
    assert c.vacuum(retain_versions=1) == 0
    # retain only v2: the two rewritten-away objects reclaim
    deleted = c.vacuum(retain_versions=0)
    assert deleted == 2
    assert len(c.store.list_prefix_ordered("table_")) == n_objects - 2
    # current state unaffected; old version now unreadable (documented)
    c.new_tx()
    assert {r["k"] for r in c.scan("t", with_stamps=False).collect()} == set(range(10, 20))
    c.commit_tx()


def test_vacuum_single_log_pass_at_depth(spark, store_dir, tmp_path):
    """VACUUM over a 120-version log with DV deletes: every log record
    is read AT MOST once (one incremental pass; the old per-version
    replay read ~retain x depth records), and DV objects age out with
    their rewritten parents."""
    from delta_lake_experiment_spark.storage.objectstore import LocalObjectStorage

    class CountingStore(LocalObjectStorage):
        def __init__(self, root):
            super().__init__(root)
            self.log_reads = 0

        def read(self, name):
            if name.startswith("_log_"):
                self.log_reads += 1
            return super().read(name)

    store = CountingStore(store_dir)
    c = DeltaLakeClient(spark, store, dataobject_size=4, checkpoint_interval=0)
    c.new_tx()
    c.create_table("t", "k BIGINT, v BIGINT")
    c.commit_tx()
    for i in range(119):
        c.new_tx()
        c.write_row("t", [i, i])
        if i == 60:
            c.delete_rows("t", "k", 10, 20, use_dv=True)  # DV object
        c.commit_tx()
    n_versions = 120
    n_dvs = len(store.list_prefix_ordered("dv_"))
    assert n_dvs == 1

    store.log_reads = 0
    deleted = c.vacuum(retain_versions=10)
    assert store.log_reads <= n_versions, (
        f"vacuum read {store.log_reads} log records for {n_versions} versions"
    )
    assert deleted == 0  # nothing rewritten yet — everything referenced

    # materializing the masked objects retires the DV; after the retained
    # window passes it, vacuum reclaims the DV with its parents
    c.new_tx()
    n_rewritten = c.materialize_dvs("t", min_masked_fraction=0.0)
    assert n_rewritten >= 1
    c.commit_tx()
    assert c.vacuum(retain_versions=0) >= n_rewritten + n_dvs
    assert store.list_prefix_ordered("dv_") == []
    c.new_tx()
    ks = {r["k"] for r in c.scan("t", with_stamps=False).collect()}
    assert ks == {i for i in range(119)} - set(range(10, 21))
    c.commit_tx()


def test_vacuum_age_guard_spares_inflight_writers(spark, store_dir):
    """An unreferenced object younger than min_age_seconds is spared:
    it may belong to a concurrent commit whose log record isn't
    published yet (data objects always precede the commit point)."""
    c = DeltaLakeClient(spark, store_dir, dataobject_size=5)
    c.new_tx()
    c.create_table("t", "k BIGINT")
    c.write_row("t", [1])
    c.commit_tx()

    # simulate an in-flight writer: data object exists, no log record
    inflight = DeltaLakeClient(spark, store_dir, dataobject_size=5)
    inflight.new_tx()
    inflight.write_row("t", [2])
    inflight._flush_buffer("t")  # object on storage, commit pending

    assert c.vacuum(min_age_seconds=3600) == 0  # too young: spared
    inflight.commit_tx()  # the spared object becomes live
    c.new_tx()
    assert c.scan("t").count() == 2
    c.commit_tx()

    # an object the store can't age-stamp is also spared (fail-safe)
    mt = type(c.store).mtime
    try:
        type(c.store).mtime = lambda self, name: None
        c.store.put_if_absent("table_t_orphan.parquet", b"junk")
        assert c.vacuum(min_age_seconds=3600) == 0
    finally:
        type(c.store).mtime = mt
    # without the guard the true orphan reclaims
    assert c.vacuum() == 1


def test_independent_writers_commit_by_default(spark, store_dir):
    """Disjoint-table concurrent writers both land without opting in —
    the reference's known-broken case (main_test.go:177), fixed at
    table granularity by the default commit retry."""
    a = DeltaLakeClient(spark, store_dir, dataobject_size=10)
    b = DeltaLakeClient(spark, store_dir, dataobject_size=10)
    a.new_tx()
    b.new_tx()
    a.create_table("ta", "k BIGINT")
    a.write_row("ta", [1])
    b.create_table("tb", "k BIGINT")
    b.write_row("tb", [2])
    a.commit_tx()
    b.commit_tx()  # same target version; retargets automatically
    a.new_tx()
    assert a.scan("ta").count() == 1
    assert a.scan("tb").count() == 1
    a.commit_tx()


def test_multi_table_tx_atomic_insert_into(spark, store_dir):
    """One transaction fans a source out into a fact table and a
    rollup table via INSERT INTO ... SELECT; both land in ONE log
    record, so a concurrent reader sees both tables or neither."""
    c = DeltaLakeClient(spark, store_dir, dataobject_size=100)
    c.new_tx()
    c.create_table("src", "k BIGINT, v BIGINT")
    for i in range(10):
        c.write_row("src", [i % 3, i])
    c.commit_tx()

    reader = DeltaLakeClient(spark, store_dir)

    c.new_tx()
    c.create_table("fact", "k BIGINT, v BIGINT")
    c.create_table("rollup", "k BIGINT, sv BIGINT")
    c.register_views("src")
    c.insert_into("fact", "SELECT k, v FROM src WHERE v >= 5")
    c.insert_into("rollup", "SELECT k, SUM(v) AS sv FROM src GROUP BY k")

    # uncommitted: a concurrent reader sees neither new table
    reader.new_tx()
    assert set(reader.tx.snapshot.tables) == {"src"}
    reader.commit_tx()

    # abort drops both; nothing ever becomes visible
    c.abort_tx()
    reader.new_tx()
    assert set(reader.tx.snapshot.tables) == {"src"}
    reader.commit_tx()

    # redo and commit: both tables appear atomically, same version
    c.new_tx()
    c.create_table("fact", "k BIGINT, v BIGINT")
    c.create_table("rollup", "k BIGINT, sv BIGINT")
    c.register_views("src")
    c.insert_into("fact", "SELECT k, v FROM src WHERE v >= 5")
    c.insert_into("rollup", "SELECT k, SUM(v) AS sv FROM src GROUP BY k")
    c.commit_tx()

    reader.new_tx()
    assert reader.scan("fact").count() == 5
    rollup = {r["k"]: r["sv"] for r in reader.scan("rollup", with_stamps=False).collect()}
    assert rollup == {0: 9 + 6 + 3 + 0, 1: 1 + 4 + 7, 2: 2 + 5 + 8}
    reader.commit_tx()


def test_update_rows(spark, store_dir):
    c = DeltaLakeClient(spark, store_dir, dataobject_size=5)
    c.new_tx()
    c.create_table("t", "k BIGINT, v STRING, amt DOUBLE")
    for i in range(10):
        c.write_row("t", [i, f"v{i}", float(i)])
    c.commit_tx()

    c.new_tx()
    # buffered + flushed in one tx
    c.write_row("t", [100, "buf", 3.0])
    c.update_rows("t", "amt", 2.0, 4.0, {"v": "hit"})
    got = {r["k"]: r["v"] for r in c.scan("t", with_stamps=False).collect()}
    assert got[2] == got[3] == got[4] == got[100] == "hit"
    assert got[0] == "v0" and got[5] == "v5"
    c.commit_tx()

    # read set: the range is the scope, but only AFFECTED files join
    # read_files — a stats candidate without a matching row does not
    c.new_tx()
    c.update_rows("t", "amt", 2.5, 2.7, {"v": "none"})
    assert c.tx.read_scopes == {
        "t": [{"bounds": {"amt": (2.5, 2.7)}, "buckets": None}]
    }
    assert c.tx.read_files == {}
    holding_0_1 = {
        c.store.path_of(o.name)
        for o in c._effective_snapshot(c.tx).live_objects("t")
        if o.stats["k"][0] <= 1
    }
    assert len(holding_0_1) == 1

    # Column-expression SET + stamp preservation (time travel unaffected)
    from pyspark.sql import functions as SF

    c.update_rows("t", "k", 0, 1, {"amt": SF.col("amt") + 100.0})
    assert c.tx.read_files == {"t": holding_0_1}
    amts = {r["k"]: r["amt"] for r in c.scan("t", with_stamps=False).collect()}
    assert amts[0] == 100.0 and amts[1] == 101.0 and amts[2] == 2.0
    c.commit_tx()
    c.new_tx()
    assert {r["v"] for r in c.scan_as_of("t", 1).collect()} == {f"v{i}" for i in range(10)}
    c.commit_tx()


def test_deletion_vectors(spark, store_dir):
    """Soft deletes: DV masks apply at scan, stack across txs, survive
    checkpoint replay, don't resurrect through COW rewrites, and are
    materialized by compaction."""
    c = DeltaLakeClient(spark, store_dir, dataobject_size=5)
    c.new_tx()
    c.create_table("t", "k BIGINT, v STRING")
    for i in range(20):
        c.write_row("t", [i, f"v{i}"])
    c.commit_tx()  # 4 files of 5 rows

    # DV delete, visible inside its own tx and after commit
    c.new_tx()
    c.delete_rows("t", "k", 3, 6, use_dv=True)
    assert {r["k"] for r in c.scan("t", with_stamps=False).collect()} == (
        set(range(20)) - {3, 4, 5, 6}
    )
    c.commit_tx()
    c.new_tx()
    assert c.scan("t").count() == 16
    # data objects were NOT rewritten (4 original files still live)
    snap = c._effective_snapshot(c.tx)
    assert len(snap.live_objects("t")) == 4
    assert snap.table_dvs("t")  # mask present
    # stacked second DV
    c.delete_rows("t", "k", 10, 11, use_dv=True)
    c.commit_tx()

    # time travel ignores later DVs
    c.new_tx()
    assert c.scan_as_of("t", 1).count() == 20
    assert c.scan_as_of("t", 2).count() == 16
    assert c.scan("t").count() == 14

    # COW delete over masked files must not resurrect DV'd rows
    c.delete_rows("t", "k", 0, 0)  # small -> driver path, rewrites file 0
    assert {r["k"] for r in c.scan("t", with_stamps=False).collect()} == (
        set(range(20)) - {0, 3, 4, 5, 6, 10, 11}
    )
    c.commit_tx()

    # fresh client replays DVs from the log
    c2 = DeltaLakeClient(spark, store_dir, dataobject_size=5)
    c2.new_tx()
    assert c2.scan("t").count() == 13
    # compaction materializes the masks
    c2.compact("t", target_files=1)
    snap2 = c2._effective_snapshot(c2.tx)
    assert not snap2.table_dvs("t")
    assert len(snap2.live_objects("t")) == 1
    assert {r["k"] for r in c2.scan("t", with_stamps=False).collect()} == (
        set(range(20)) - {0, 3, 4, 5, 6, 10, 11}
    )
    c2.commit_tx()
    c2.new_tx()
    assert c2.scan("t").count() == 13
    c2.commit_tx()


def test_materialize_dvs_policy(spark, store_dir):
    """Only heavily-masked objects rewrite; light masks stay cheap."""
    c = DeltaLakeClient(spark, store_dir, dataobject_size=10)
    c.new_tx()
    c.create_table("t", "k BIGINT, v BIGINT")
    for i in range(30):
        c.write_row("t", [i, i])
    c.commit_tx()  # 3 files: k 0-9, 10-19, 20-29

    c.new_tx()
    c.delete_rows("t", "k", 0, 7, use_dv=True)   # file 1: 80% masked
    c.delete_rows("t", "k", 10, 11, use_dv=True)  # file 2: 20% masked
    c.commit_tx()

    c.new_tx()
    rewritten = c.materialize_dvs("t", min_masked_fraction=0.5)
    assert rewritten == 1  # only the 80%-masked object
    snap = c._effective_snapshot(c.tx)
    assert len(snap.table_dvs("t")) == 1  # the light mask remains
    assert {r["k"] for r in c.scan("t", with_stamps=False).collect()} == (
        set(range(30)) - set(range(0, 8)) - {10, 11}
    )
    c.commit_tx()
    c.new_tx()
    assert c.scan("t").count() == 20
    assert c.materialize_dvs("t", min_masked_fraction=0.5) == 0  # idempotent
    c.commit_tx()


def test_snapshot_isolation_spans_dv_deletes(spark, store_dir):
    """A reader whose snapshot predates a DV delete keeps seeing the
    masked rows — soft deletes obey the same isolation as COW."""
    w = DeltaLakeClient(spark, store_dir, dataobject_size=5)
    w.new_tx()
    w.create_table("t", "k BIGINT, v BIGINT")
    for i in range(10):
        w.write_row("t", [i, i])
    w.commit_tx()

    reader = DeltaLakeClient(spark, store_dir, dataobject_size=5)
    reader.new_tx()  # snapshot pinned here

    w.new_tx()
    w.delete_rows("t", "k", 0, 4, use_dv=True)
    w.commit_tx()

    assert reader.scan("t").count() == 10  # pinned snapshot: no mask
    reader.commit_tx()
    reader.new_tx()
    assert reader.scan("t").count() == 5  # fresh snapshot: masked
    reader.commit_tx()


def test_deletion_vectors_checkpoint_roundtrip(spark, store_dir):
    c = DeltaLakeClient(spark, store_dir, dataobject_size=4)
    c.checkpoint_interval = 2
    c.new_tx()
    c.create_table("t", "k BIGINT, v BIGINT")
    for i in range(8):
        c.write_row("t", [i, i])
    c.commit_tx()  # v1
    c.new_tx()
    c.delete_rows("t", "k", 0, 1, use_dv=True)
    c.commit_tx()  # v2 -> checkpoint with dvs
    from delta_lake_experiment_spark.plans.snapshot import CHECKPOINT_PREFIX

    assert c.store.list_prefix_ordered(CHECKPOINT_PREFIX)
    c2 = DeltaLakeClient(spark, store_dir, dataobject_size=4)
    c2.new_tx()
    assert c2.tx.snapshot.table_dvs("t")  # dvs came from the checkpoint
    assert {r["k"] for r in c2.scan("t", with_stamps=False).collect()} == set(range(2, 8))
    c2.commit_tx()


def test_concurrent_independent_writers_retry(spark, store_dir):
    """The reference's known-broken case (main_test.go:177 TODO): two
    writers on DISJOINT tables. With retry_independent the second
    commit re-targets the next version; same-table interference still
    conflicts."""
    import pytest

    from delta_lake_experiment_spark.errors import ConcurrentCommitError

    c0 = DeltaLakeClient(spark, store_dir)
    c0.new_tx()
    c0.create_table("ta", "k BIGINT, v BIGINT")
    c0.create_table("tb", "k BIGINT, v BIGINT")
    c0.commit_tx()

    a = DeltaLakeClient(spark, store_dir)
    b = DeltaLakeClient(spark, store_dir)
    a.new_tx()
    b.new_tx()  # same snapshot, same target version
    a.write_row("ta", [1, 1])
    b.write_row("tb", [2, 2])
    a.commit_tx()
    b.commit_tx(retry_independent=3)  # disjoint tables -> succeeds

    check = DeltaLakeClient(spark, store_dir)
    check.new_tx()
    assert check.scan("ta").count() == 1 and check.scan("tb").count() == 1
    check.commit_tx()

    # same-table APPEND-APPEND now admits at file granularity (r9,
    # Delta WriteSerializable): both rows land, no client-level retry
    a.new_tx()
    b.new_tx()
    a.write_row("ta", [3, 3])
    b.write_row("ta", [4, 4])
    a.commit_tx()
    b.commit_tx(retry_independent=3)
    check.new_tx()
    assert sorted(r["k"] for r in check.scan("ta").collect()) == [1, 3, 4]
    check.commit_tx()

    # genuine same-table overlap (two COW deletes rewriting the same
    # file — both ranges cover k=1's object) still loses, even with
    # retries
    a.new_tx()
    b.new_tx()
    a.delete_rows("ta", "k", 1, 3)
    b.delete_rows("ta", "k", 1, 4)
    a.commit_tx()
    with pytest.raises(ConcurrentCommitError):
        b.commit_tx(retry_independent=3)


def test_clustered_compaction_tightens_pruning(spark, store_dir):
    """cluster_by compaction must shrink the stat-pruned candidate set
    for range predicates on the cluster column."""
    import random

    c = DeltaLakeClient(spark, store_dir, dataobject_size=50)
    c.new_tx()
    c.create_table("t", "k BIGINT, v BIGINT")
    rng = random.Random(7)
    vals = list(range(400))
    rng.shuffle(vals)  # every file spans ~the full key range
    for k in vals:
        c.write_row("t", [k, k])
    c.commit_tx()

    c.new_tx()
    snap = c._effective_snapshot(c.tx)
    before = len(snap.live_files("t", c.store, prune={"k": (0, 39)}))
    assert before == 8  # random layout: nothing prunable
    c.compact("t", target_files=8, cluster_by=["k"])
    c.commit_tx()

    c.new_tx()
    snap = c._effective_snapshot(c.tx)
    files_all = snap.live_files("t", c.store)
    pruned = snap.live_files("t", c.store, prune={"k": (0, 39)})
    assert len(files_all) == 8
    assert len(pruned) <= 2, f"clustering should prune to ~1 file, got {len(pruned)}"
    # correctness preserved
    assert c.scan("t").count() == 400
    assert c.scan("t").filter("k BETWEEN 0 AND 39").count() == 40
    c.commit_tx()


def test_zorder_compaction_prunes_both_dimensions(spark, store_dir):
    """After z-order on (x, y), stats pruning must be effective for
    range predicates on EITHER column (lexicographic clustering only
    helps the leading one)."""
    import random

    c = DeltaLakeClient(spark, store_dir, dataobject_size=64)
    c.new_tx()
    c.create_table("t", "x BIGINT, y BIGINT")
    rng = random.Random(3)
    pts = [(rng.randrange(1024), rng.randrange(1024)) for _ in range(1024)]
    for x, y in pts:
        c.write_row("t", [x, y])
    c.commit_tx()

    c.new_tx()
    c.compact("t", target_files=16, zorder_by=["x", "y"])
    c.commit_tx()

    c.new_tx()
    snap = c._effective_snapshot(c.tx)
    total = len(snap.live_files("t", c.store))
    assert total == 16
    pruned_x = len(snap.live_files("t", c.store, prune={"x": (0, 127)}))
    pruned_y = len(snap.live_files("t", c.store, prune={"y": (0, 127)}))
    # a 1/8 slice in either dimension should skip most files
    assert pruned_x <= total // 2, (pruned_x, total)
    assert pruned_y <= total // 2, (pruned_y, total)
    # correctness preserved
    assert c.scan("t").count() == 1024
    expect = sum(1 for x, y in pts if x <= 127)
    assert c.scan("t").filter("x <= 127").count() == expect
    c.commit_tx()


def test_zorder_handles_string_columns(spark, store_dir):
    """z-order over a (string, numeric) pair must produce stats pruning
    on BOTH columns (strings quantize on their 7-byte prefix)."""
    import random

    c = DeltaLakeClient(spark, store_dir, dataobject_size=64)
    c.new_tx()
    c.create_table("t", "cat STRING, x BIGINT")
    rng = random.Random(5)
    cats = [f"cat_{chr(ord('a') + i)}" for i in range(16)]
    for _ in range(1024):
        c.write_row("t", [rng.choice(cats), rng.randrange(1024)])
    c.commit_tx()

    c.new_tx()
    c.compact("t", target_files=16, zorder_by=["cat", "x"])
    c.commit_tx()

    c.new_tx()
    snap = c._effective_snapshot(c.tx)
    total = len(snap.live_files("t", c.store))
    by_cat = len(snap.live_files("t", c.store, prune={"cat": ("cat_a", "cat_b")}))
    by_x = len(snap.live_files("t", c.store, prune={"x": (0, 63)}))
    assert by_cat < total and by_x < total, (by_cat, by_x, total)
    assert c.scan("t").filter("cat = 'cat_a'").count() == sum(
        1 for _ in range(0)
    ) + c.scan("t", prune={"cat": ("cat_a", "cat_a")}).filter("cat = 'cat_a'").count()
    c.commit_tx()


def test_schema_evolution_add_column(spark, store_dir):
    """The reference's broken-by-design case (README.md:45-46): add a
    column, then delete on it — old rows must survive, not explode."""
    c = DeltaLakeClient(spark, store_dir, dataobject_size=4)
    c.new_tx()
    c.create_table("t", "k BIGINT, v STRING")
    for i in range(6):
        c.write_row("t", [i, f"v{i}"])
    c.commit_tx()

    c.new_tx()
    c.add_columns("t", "score BIGINT")
    # widened schema visible immediately, old rows read as NULL
    assert [f.name for f in c.table_schema("t").fields] == ["k", "v", "score"]
    c.write_row("t", [100, "new", 7])
    c.write_row("t", [101, "new", 55])
    c.commit_tx()

    c.new_tx()
    rows = {r["k"]: (r["v"], r["score"]) for r in c.scan("t", with_stamps=False).collect()}
    assert rows[0] == ("v0", None) and rows[100] == ("new", 7)
    assert len(rows) == 8
    # delete on the NEW column: NULL rows (pre-evolution) are untouched
    c.delete_rows("t", "score", 50, 60)
    c.commit_tx()
    c.new_tx()
    ks = {r["k"] for r in c.scan("t", with_stamps=False).collect()}
    assert ks == {0, 1, 2, 3, 4, 5, 100}
    # buffered rows widen too: add column mid-tx with unflushed rows
    c.add_columns("t", "extra DOUBLE")
    c.write_row("t", [200, "x", 1, 2.5])
    assert sorted(len(r) for r in [next(iter(c.scan_iter("t")))]) == [4]
    c.commit_tx()


def test_stats_pruning_and_compaction(spark, store_dir):
    c = DeltaLakeClient(spark, store_dir, dataobject_size=10)
    c.new_tx()
    c.create_table("t", "k BIGINT, v STRING")
    for i in range(40):  # 4 objects of 10 rows, disjoint k ranges
        c.write_row("t", [i, f"v{i}"])
    c.commit_tx()

    c.new_tx()
    snap = c.tx.snapshot
    assert len(snap.live_objects("t")) == 4
    # log-level min/max stats prune the file list before Spark sees it
    assert len(snap.live_files("t", c.store, prune={"k": (12, 14)})) == 1
    assert len(snap.live_files("t", c.store, prune={"k": (0, 39)})) == 4
    assert c.scan("t", prune={"k": (12, 14)}).filter("k between 12 and 14").count() == 3
    c.compact("t", target_files=1)
    assert drain(c, "t")[0] == (39, "v39")  # stamps survive compaction
    c.commit_tx()

    c.new_tx()
    assert len(c.tx.snapshot.live_objects("t")) == 1
    assert c.scan("t").count() == 40
    c.commit_tx()


def test_timestamp_stats_prune_time_ranges(spark, store_dir):
    """Temporal columns now carry file stats (tagged epoch encodings in
    the JSON log): a time-range scan over a ts-clustered table prunes
    files; date-granularity probes degrade conservatively."""
    import datetime as dt

    c = DeltaLakeClient(spark, store_dir)
    c.new_tx()
    c.create_table("ev", "ts TIMESTAMP, d DATE, v BIGINT", cluster_by=["ts"])
    base = dt.datetime(2024, 1, 1)
    rows = [
        (base + dt.timedelta(hours=h), (base + dt.timedelta(hours=h)).date(), h)
        for h in range(512)
    ]
    coalesce_conf = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(coalesce_conf, "true")
    spark.conf.set(coalesce_conf, "false")
    try:
        c.write_dataframe(
            "ev",
            spark.createDataFrame(rows, "ts TIMESTAMP, d DATE, v BIGINT").repartition(8),
        )
        c.commit_tx()
    finally:
        spark.conf.set(coalesce_conf, prev)

    c.new_tx()
    snap = c._effective_snapshot(c.tx)
    total = snap.live_files("ev", c.store)
    assert len(total) >= 4
    lo, hi = base + dt.timedelta(hours=10), base + dt.timedelta(hours=20)
    pruned = snap.live_files("ev", c.store, prune={"ts": (lo, hi)})
    assert len(pruned) <= 2, f"ts stats should prune, got {len(pruned)}/{len(total)}"
    got = c.scan("ev", prune={"ts": (lo, hi)}).filter(
        (F.col("ts") >= lo) & (F.col("ts") <= hi)
    )
    assert got.count() == 11
    # date-typed probe against the ts stats: day granularity, correct rows
    day = dt.date(2024, 1, 5)
    pruned_d = snap.live_files("ev", c.store, prune={"d": (day, day)})
    assert len(pruned_d) < len(total)
    assert c.scan("ev", prune={"d": (day, day)}).filter(F.col("d") == F.lit(day)).count() == 24
    c.commit_tx()


def test_bulk_ingest_blooms_distributed(spark, store_dir, monkeypatch):
    """Local-store bulk ingest with declared bloom columns computes
    stats + blooms in ONE distributed pass — zero per-file driver
    pyarrow reads (VERDICT r2 wrong-#1) — and huge int64 values
    survive exactly (ADVICE r2: Arrow->pandas coerces nullable int64
    to float64; int(float) rounds |v| > 2^53, a bloom FALSE NEGATIVE
    that wrongly prunes the file holding the key)."""
    import delta_lake_experiment_spark.client as client_mod

    big = (1 << 60) + 123456789  # not representable in float64
    c = DeltaLakeClient(spark, store_dir)
    c.new_tx()
    c.create_table("t", "k BIGINT, s STRING, v BIGINT", bloom_columns=["k", "s"])
    c.commit_tx()

    calls = {"footer": 0, "blooms": 0}
    orig_stats = client_mod._parquet_file_stats

    def _counting_stats(path):
        calls["footer"] += 1
        return orig_stats(path)

    def _counting_blooms(self, *a, **k):
        calls["blooms"] += 1
        return {}

    monkeypatch.setattr(client_mod, "_parquet_file_stats", _counting_stats)
    monkeypatch.setattr(DeltaLakeClient, "_build_blooms", _counting_blooms)

    # nulls in the bloom columns force the Arrow->pandas float64 path
    rows = [(big, "key_big", 1), (None, None, 2)] + [
        (i, f"s{i}", i) for i in range(100)
    ]
    c.new_tx()
    c.write_dataframe(
        "t", spark.createDataFrame(rows, "k BIGINT, s STRING, v BIGINT").coalesce(1)
    )
    c.commit_tx()
    assert calls == {"footer": 0, "blooms": 0}, calls

    c.new_tx()
    snap = c._effective_snapshot(c.tx)
    total = snap.live_files("t", c.store)
    # the bloom must ADMIT the file holding the huge value (a rounded
    # bloom would silently return zero rows here)
    assert len(snap.live_files("t", c.store, prune={"k": (big, big)})) >= 1
    assert c.scan("t", prune={"k": (big, big)}).filter(F.col("k") == big).count() == 1
    # ...and still prune point lookups for absent values
    miss = snap.live_files("t", c.store, prune={"s": ("nope_absent", "nope_absent")})
    assert len(miss) < len(total)
    c.commit_tx()


def test_sidecar_blooms(spark, store_dir):
    """Oversized blooms spill to bloomf_* sidecar objects referenced
    from the add action: log records stay footer-sized at any file
    count (VERDICT r2 wrong-#2 — inline 250 KB/file blooms would drag
    GBs through replay at 10^5+ files), point-lookup pruning still
    works — including after checkpoint replay, which carries the
    references — and VACUUM reclaims sidecars with their parents."""
    from delta_lake_experiment_spark.plans.snapshot import log_name

    c = DeltaLakeClient(spark, store_dir, checkpoint_interval=2)
    c.new_tx()
    c.create_table("t", "k BIGINT, v BIGINT", bloom_columns=["k"])
    c.commit_tx()  # v1
    c.new_tx()
    # round-robin partitioning: every file spans ~the full k range, so
    # min/max stats CANNOT prune — only the blooms can
    df = spark.range(200_000).select(
        F.col("id").alias("k"), (F.col("id") * 7).alias("v")
    ).repartition(4)
    c.write_dataframe("t", df)
    c.commit_tx()  # v2 (checkpointed: interval=2)

    sidecars = c.store.list_prefix_ordered("bloomf_")
    assert sidecars, "50K-value blooms must spill to sidecars"
    c.new_tx()
    snap = c._effective_snapshot(c.tx)
    n_files = len(snap.live_objects("t"))
    assert n_files >= 2
    rec = c.store.read(log_name(2))
    assert len(rec) < 10_000 * n_files, f"log record {len(rec)}B for {n_files} files"
    hit = snap.live_files("t", c.store, prune={"k": (123_456, 123_456)})
    assert len(hit) < n_files, "bloom must prune point lookups"
    assert c.scan("t", prune={"k": (123_456, 123_456)}).filter("k = 123456").count() == 1
    c.commit_tx()

    # fresh client replays FROM THE CHECKPOINT — refs must survive it
    c2 = DeltaLakeClient(spark, store_dir, checkpoint_interval=2)
    c2.new_tx()
    snap2 = c2._effective_snapshot(c2.tx)
    assert len(snap2.live_files("t", c2.store, prune={"k": (123_456, 123_456)})) < n_files
    c2.commit_tx()

    # compaction rewrites the objects; vacuum reclaims old parents AND
    # their sidecar blooms together
    c2.new_tx()
    c2.compact("t", target_files=1)
    c2.commit_tx()
    deleted = c2.vacuum()
    assert deleted >= n_files + len(
        [s for s in sidecars]
    ), f"expected parents+sidecars reclaimed, got {deleted}"
    live_sidecars = set(c2.store.list_prefix_ordered("bloomf_"))
    assert not (set(sidecars) & live_sidecars), "old sidecars must be gone"
    c2.new_tx()
    assert c2.scan("t").count() == 200_000
    c2.commit_tx()


def test_vacuum_dry_run(spark, store_dir):
    """vacuum(dry_run=True) reports exactly the set a real run would
    delete — names, sizes, ages — and deletes nothing."""
    c = DeltaLakeClient(spark, store_dir, dataobject_size=4, checkpoint_interval=0)
    c.new_tx()
    c.create_table("t", "k BIGINT, v STRING")
    c.write_dataframe(
        "t", spark.createDataFrame([(i, "x") for i in range(16)], "k BIGINT, v STRING")
    )
    c.commit_tx()
    c.new_tx()
    c.delete_rows("t", "k", 0, 7)  # COW: old objects become unreferenced
    c.commit_tx()

    before = set(c.store.list_prefix_ordered("table_"))
    report = c.vacuum(dry_run=True)
    assert set(c.store.list_prefix_ordered("table_")) == before, "dry run deleted!"
    assert report["count"] == len(report["objects"]) > 0
    assert report["total_bytes"] > 0
    for o in report["objects"]:
        assert o["bytes"] > 0 and o["age_seconds"] is not None

    would_delete = {o["name"] for o in report["objects"]}
    n_deleted = c.vacuum()
    after = set(c.store.list_prefix_ordered("table_"))
    assert before - after == would_delete
    assert n_deleted == len(would_delete)
    # post-GC: table still reads correctly
    c.new_tx()
    assert {r["k"] for r in c.scan("t", with_stamps=False).collect()} == set(range(8, 16))
    c.commit_tx()


def test_sql_temporal_string_bounds(spark, store_dir):
    """ADVICE r2 (high): the SQL grammar emits plain-string literals
    for temporal bounds; comparing a tagged 'ts:<micros>' stat
    lexicographically against '2024-…' pruned every file, turning SQL
    DELETE/UPDATE on timestamp columns into silent no-ops. Bounds now
    coerce to datetime/date and tagged stats never compare as text."""
    import datetime as dt

    from delta_lake_experiment_spark.plans.snapshot import _stats_intersect

    # the exact reproduction from ADVICE.md — must intersect now
    assert _stats_intersect(
        {"ts": ["ts:1704067200000000", "ts:1719705600000000"]},
        {"ts": ("2024-01-01", "2024-06-30")},
    )
    # unparseable string bound: keep the file conservatively
    assert _stats_intersect(
        {"ts": ["ts:1704067200000000", "ts:1719705600000000"]},
        {"ts": ("not a date", "also not")},
    )

    c = DeltaLakeClient(spark, store_dir)
    c.new_tx()
    c.create_table("tev", "ts TIMESTAMP, d DATE, v BIGINT")
    base = dt.datetime(2024, 1, 1)
    rows = [
        (base + dt.timedelta(days=30 * i), (base + dt.timedelta(days=30 * i)).date(), i)
        for i in range(12)
    ]
    c.write_dataframe(
        "tev", spark.createDataFrame(rows, "ts TIMESTAMP, d DATE, v BIGINT")
    )
    c.commit_tx()

    c.new_tx()
    # a buffered (unflushed) row inside the range: the Python-side
    # tombstone comparison needs the coerced bound too
    c.write_row("tev", [dt.datetime(2024, 2, 15), dt.date(2024, 2, 15), 99])
    c.execute("DELETE FROM tev WHERE ts BETWEEN '2024-01-01' AND '2024-06-30'")
    remaining = c.scan("tev").count()
    # rows i=0..6 (ts <= 2024-06-29) and the buffered row deleted
    assert remaining == 5, f"expected 5 survivors, got {remaining}"
    # date-typed column with a string equality literal
    c.execute("UPDATE tev SET v = -1 WHERE d = '2024-07-29'")
    assert c.scan("tev").filter(F.col("v") == -1).count() == 1
    c.commit_tx()


_TS = ["ts:1704067200000000", "ts:1719748800000000"]  # 2024-01-01, 06-30 12:00
_D = ["d:738886", "d:739067"]  # 2024-01-01, 2024-06-30


@pytest.mark.parametrize(
    "stats,lo,hi,admits",
    [
        # ts: stat against a naive datetime bound (micros)
        (_TS, "dt:2024-03-01", "dt:2024-03-02", True),
        (_TS, "dt:2024-07-01", "dt:2024-08-01", False),
        # tz-aware bound converts to UTC before the compare: 06-30
        # 13:00+02:00 is 11:00Z, inside; dropping the tz would prune
        (_TS, "dt:2024-06-30T13:00+02:00", None, True),
        (_TS, "dt:2024-06-30T15:00+02:00", None, False),
        # ts: stat against a date bound: day granularity
        (_TS, "date:2024-06-30", "date:2024-07-05", True),
        (_TS, "date:2024-07-01", "date:2024-07-05", False),
        # d: stat against a datetime bound: the bound's day
        (_D, "dt:2024-06-30T23:59", None, True),
        (_D, "dt:2024-07-01", None, False),
        # ISO string against a tagged stat parses as a timestamp
        (_TS, "2024-01-01", "2024-06-30", True),
        (_TS, "2024-07-01", "2024-08-01", False),
        (_D, "2024-07-01", None, False),
        # unparseable string against a tagged stat: file kept
        (_TS, "not a date", "also not", True),
        # int against int, open-ended bounds included
        ([1, 10], 5, 5, True),
        ([1, 10], 11, 20, False),
        ([1, 10], None, 0, False),
        # a None stat: file kept
        ([None, None], 11, 20, True),
        # str stat against an int bound is incomparable: file kept
        (["a", "z"], 1, 2, True),
    ],
)
def test_stats_intersect_bound_shapes(stats, lo, hi, admits):
    """Each bound is decoded once per pruning call; each stat shape
    picks its form of the decoded bound. Pins every shape the
    comparator accepts, pruning and keeping."""
    import datetime as dt

    from delta_lake_experiment_spark.plans.snapshot import _stats_intersect

    def bound(b):
        if isinstance(b, str) and b.startswith("dt:"):
            return dt.datetime.fromisoformat(b[3:])
        if isinstance(b, str) and b.startswith("date:"):
            return dt.date.fromisoformat(b[5:])
        return b

    assert _stats_intersect({"c": stats}, {"c": (bound(lo), bound(hi))}) is admits
    # a column without stats never prunes
    assert _stats_intersect({}, {"c": (bound(lo), bound(hi))}) is True


def test_scan_changes_net_diff(spark, store_dir):
    """Change data feed: snapshot diff reports inserts/deletes across
    COW deletes, DV deletes and appends — and compaction (pure rewrite)
    reports ZERO changes because moved rows cancel on their stamps."""
    c = DeltaLakeClient(spark, store_dir, dataobject_size=4)
    c.new_tx()
    c.create_table("t", "k BIGINT, v STRING")
    c.write_dataframe(
        "t", spark.createDataFrame([(i, "a") for i in range(8)], "k BIGINT, v STRING")
    )
    c.commit_tx()  # v1
    c.new_tx()
    c.delete_rows("t", "k", 2, 3)  # COW
    c.commit_tx()  # v2
    c.new_tx()
    c.delete_rows("t", "k", 5, 5, use_dv=True)  # soft delete
    c.commit_tx()  # v3
    c.new_tx()
    c.write_dataframe(
        "t", spark.createDataFrame([(100, "x"), (101, "x")], "k BIGINT, v STRING")
    )
    c.commit_tx()  # v4
    c.new_tx()
    c.compact("t")
    c.commit_tx()  # v5 — rewrite only

    c.new_tx()
    ch = c.scan_changes("t", 1, 4).select("k", "_change_type").collect()
    got = {(r["k"], r["_change_type"]) for r in ch}
    assert got == {(100, "insert"), (101, "insert"), (2, "delete"), (3, "delete"), (5, "delete")}
    assert c.scan_changes("t", 4, 5).count() == 0  # compaction: no net change
    # from the empty table: everything currently live is an insert
    ch0 = {(r["k"], r["_change_type"]) for r in c.scan_changes("t", 0, 5).select("k", "_change_type").collect()}
    assert ch0 == {(k, "insert") for k in [0, 1, 4, 6, 7, 100, 101]}
    c.commit_tx()


def test_declared_clustering_layout_prunes_ingest(spark, store_dir):
    """create_table(cluster_by=...) must give bulk-ingested data a
    pruned layout out of the box: a shuffled ingest lands in
    range-partitioned files whose [min,max] slices let a range lookup
    skip almost everything, with no compaction step."""
    c = DeltaLakeClient(spark, store_dir)
    c.new_tx()
    c.create_table("t", "k BIGINT, v BIGINT", cluster_by=["k"])
    shuffled = (
        spark.range(4000)
        .selectExpr("id AS k", "id AS v")
        .repartition(8)  # destroys any incidental ordering
    )
    # at test size AQE would (correctly) coalesce the range shuffle to
    # one file; pin the partition count so the layout is observable
    coalesce_conf = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(coalesce_conf, "true")
    spark.conf.set(coalesce_conf, "false")
    try:
        c.write_dataframe("t", shuffled)
        c.commit_tx()
    finally:
        spark.conf.set(coalesce_conf, prev)

    c.new_tx()
    snap = c._effective_snapshot(c.tx)
    total = snap.live_files("t", c.store)
    pruned = snap.live_files("t", c.store, prune={"k": (100, 150)})
    assert len(total) >= 4
    assert len(pruned) <= 2, f"clustered ingest should prune, got {len(pruned)}/{len(total)}"
    assert c.scan("t").filter("k BETWEEN 100 AND 150").count() == 51
    # layout metadata survives replay for the next writer
    c.commit_tx()
    c2 = DeltaLakeClient(spark, store_dir)
    c2.new_tx()
    assert c2._effective_snapshot(c2.tx).cluster_cols.get("t") == ["k"]
    c2.commit_tx()


def test_bloom_point_lookup_pruning(spark, store_dir):
    """Declared bloom columns must prune equality lookups at file
    granularity where min/max stats cannot (every object spans the full
    key range), and the blooms must survive checkpoint replay."""
    c = DeltaLakeClient(spark, store_dir, dataobject_size=10, checkpoint_interval=1)
    c.new_tx()
    c.create_table("t", "k BIGINT, v STRING", bloom_columns=["k"])
    # 8 objects x 10 rows; sentinels 0 and 100000 in every object make
    # each file's [min, max] span the whole range -> min/max prunes NOTHING
    for i in range(8):
        c.write_row("t", [0, f"lo{i}"])
        for j in range(8):
            c.write_row("t", [1 + i + 100 * j, f"r{i}_{j}"])
        c.write_row("t", [100000, f"hi{i}"])
    c.commit_tx()

    c.new_tx()
    snap = c._effective_snapshot(c.tx)
    assert len(snap.live_files("t", c.store)) == 8
    # k=4 lives only in object 3 (1 + 3 + 100*0)
    pruned = snap.live_files("t", c.store, prune={"k": (4, 4)})
    assert 1 <= len(pruned) <= 2, f"bloom should prune to ~1 file, got {len(pruned)}"
    rows = c.scan("t", prune={"k": (4, 4)}).filter("k = 4").collect()
    assert len(rows) == 1
    # a range predicate ignores blooms (keeps all: min/max overlap)
    assert len(snap.live_files("t", c.store, prune={"k": (2, 5)})) == 8
    c.commit_tx()

    # blooms survive the checkpoint (checkpoint_interval=1 -> v1 folded)
    c2 = DeltaLakeClient(spark, store_dir)
    c2.new_tx()
    snap2 = c2._effective_snapshot(c2.tx)
    assert len(snap2.live_files("t", c2.store, prune={"k": (4, 4)})) <= 2
    # a LATER tx (bloom_columns known only via replay) still builds blooms
    c2.write_dataframe(
        "t", spark.createDataFrame([(123456, "late")], "k BIGINT, v STRING")
    )
    c2.commit_tx()
    c3 = DeltaLakeClient(spark, store_dir)
    c3.new_tx()
    late = [
        o
        for o in c3._effective_snapshot(c3.tx).live_objects("t")
        if o.stats.get("k") == [123456, 123456]
    ]
    assert late and late[0].blooms.get("k")
    c3.commit_tx()


def test_checkpoint_replay(spark, store_dir):
    c = DeltaLakeClient(spark, store_dir, dataobject_size=10, checkpoint_interval=4)
    c.new_tx()
    c.create_table("t", "k BIGINT")
    c.write_row("t", [0])
    c.commit_tx()
    for i in range(1, 6):
        c.new_tx()
        c.write_row("t", [i])
        c.commit_tx()
    store = LocalObjectStorage(store_dir)
    assert store.list_prefix_ordered("_checkpoint_")  # checkpoint written
    snap = replay_log(store)
    assert snap.version == 6
    c.new_tx()
    assert sorted(r[0] for r in drain(c, "t")) == [0, 1, 2, 3, 4, 5]
    c.commit_tx()


# ----------------------------------------------------------------------
# bucketed ACID tables (VERDICT r6 item 4)
# ----------------------------------------------------------------------


def _no_shuffle(df) -> bool:
    """True when the executed plan contains no shuffle Exchange.
    BroadcastExchange (tiny DV masks / dims) is not a shuffle of the
    fact data and is exempt — the property under test is that the
    bucketed layout replaces hashpartitioning exchanges."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "Exchange" not in plan.replace("BroadcastExchange", "BX")


@pytest.fixture()
def smj_conf(spark):
    """Pin the planner to sort-merge joins (AQE's broadcast rewrite
    would hide the exchange question) for the duration of one test."""
    pairs = [
        ("spark.sql.autoBroadcastJoinThreshold", "-1"),
        ("spark.sql.adaptive.enabled", "false"),
    ]
    old = {k: spark.conf.get(k, None) for k, _ in pairs}
    for k, v in pairs:
        spark.conf.set(k, v)
    yield
    for k, v in old.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_bucketed_engine_join_shuffle_free(spark, store_dir, smj_conf):
    """The write_bucketed_table contract lifted onto ACID tables: two
    engine tables created with bucket_by on the join key, bulk-written
    and committed, then REPLAYED by a fresh client — the engine⋈engine
    join plans a SortMergeJoin with NO shuffle Exchange on either side,
    and its VALUES equal the plain-scan join (which certifies the
    repartition-hash == bucket-id contract, not just the plan shape)."""
    docs = spark.createDataFrame(
        [(i, f"fp{i % 40}", f"text {i}") for i in range(400)],
        "id long, fp string, text string",
    )
    scores = spark.createDataFrame(
        [(f"fp{i}", float(i)) for i in range(40)], "fp string, score double"
    )
    c = DeltaLakeClient(spark, store_dir, dataobject_size=1000)
    c.new_tx()
    c.create_table("bdocs", "id bigint, fp string, text string",
                   bucket_by=(["fp"], 8))
    c.create_table("bscores", "fp string, score double", bucket_by=(["fp"], 8))
    c.write_dataframe("bdocs", docs)
    c.write_dataframe("bscores", scores)
    c.commit_tx()
    # fresh client: the layout must survive commit + log replay
    c2 = DeltaLakeClient(spark, store_dir)
    c2.new_tx()
    d = c2.scan_bucketed("bdocs", with_stamps=False)
    s = c2.scan_bucketed("bscores", with_stamps=False)
    j = d.join(s, "fp")
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan
    assert _no_shuffle(j), plan
    got = sorted(tuple(r) for r in j.select("fp", "id", "score").collect())
    exp = sorted(tuple(r) for r in docs.join(scores, "fp")
                 .select("fp", "id", "score").collect())
    assert got == exp
    # the plain scan twin of the same join shuffles
    pj = c2.scan("bdocs", with_stamps=False).join(
        c2.scan("bscores", with_stamps=False), "fp"
    )
    assert not _no_shuffle(pj)
    # aggregation on the bucket key is exchange-free too
    agg = d.groupBy("fp").count()
    assert _no_shuffle(agg)
    c2.commit_tx()


def test_bucketed_table_lifecycle_keeps_layout(spark, store_dir, smj_conf):
    """COW delete, DV delete, compaction, and the row-buffer flush all
    preserve the bucket labels: after each mutation scan_bucketed still
    returns exact values and plans exchange-free aggregations."""
    c = DeltaLakeClient(spark, store_dir, dataobject_size=4)
    rows = [(i, f"fp{i % 10}", float(i)) for i in range(200)]
    docs = spark.createDataFrame(rows, "id long, fp string, v double")
    c.new_tx()
    c.create_table("t", "id bigint, fp string, v double", bucket_by=(["fp"], 8))
    c.write_dataframe("t", docs)
    c.commit_tx()

    def ids():
        out = sorted(r["id"] for r in c.scan_bucketed("t", with_stamps=False).collect())
        return out

    live = set(range(200))
    # COW delete (the driver fast path at this size carries the source
    # object's label; the distributed path re-buckets)
    c.new_tx()
    c.delete_rows("t", "id", 50, 99)
    c.commit_tx()
    live -= set(range(50, 100))
    c.new_tx()
    assert ids() == sorted(live)
    # DV delete: mask applies through the bucketed scan, broadcast
    # anti-join preserves the partitioning
    c.delete_rows("t", "id", 0, 9, use_dv=True)
    c.commit_tx()
    live -= set(range(0, 10))
    c.new_tx()
    d = c.scan_bucketed("t", with_stamps=False)
    assert sorted(r["id"] for r in d.collect()) == sorted(live)
    assert _no_shuffle(d.groupBy("fp").count())
    # compaction materializes the DVs and re-buckets within the layout
    c.compact("t")
    c.commit_tx()
    c.new_tx()
    snap = c._effective_snapshot(c.tx)
    assert all(o.bucket_id is not None for o in snap.live_objects("t"))
    assert ids() == sorted(live)
    # row-at-a-time flush routes through the bucketized staging path
    for i in range(1000, 1006):
        c.write_row("t", [i, f"fp{i % 10}", float(i)])
    c.commit_tx()
    live |= set(range(1000, 1006))
    c.new_tx()
    d2 = c.scan_bucketed("t", with_stamps=False)
    assert sorted(r["id"] for r in d2.collect()) == sorted(live)
    assert _no_shuffle(d2.groupBy("fp").count())
    c.commit_tx()


def test_bucketed_ingest_coerced_types_stay_colocated(spark, store_dir, smj_conf):
    """Review-catch regression: bucketize must hash the CAST (stored)
    column types. An IntegerType ingest into a bigint-bucketed table
    hashes murmur3(int) != murmur3(long) for the same value if applied
    pre-cast — after a COW rewrite (which re-buckets the stored longs)
    the same key would live in two buckets and a 'shuffle-free' join
    would silently drop matches. Values must equal the plain join."""
    c = DeltaLakeClient(spark, store_dir, dataobject_size=1000)
    c.new_tx()
    c.create_table("t", "id bigint, fp bigint", bucket_by=(["fp"], 8))
    c.create_table("d", "fp bigint, lbl string", bucket_by=(["fp"], 8))
    # int-typed input columns: write_dataframe casts them to bigint
    docs = spark.createDataFrame(
        [(i, i % 20) for i in range(200)], "id int, fp int"
    )
    dims = spark.createDataFrame(
        [(i, f"l{i}") for i in range(20)], "fp int, lbl string"
    )
    c.write_dataframe("t", docs)
    c.write_dataframe("d", dims)
    c.commit_tx()
    # COW delete rewrites some objects from the STORED (bigint) values
    c.new_tx()
    c.delete_rows("t", "id", 0, 49)
    c.commit_tx()
    c.new_tx()
    j = c.scan_bucketed("t", with_stamps=False).join(
        c.scan_bucketed("d", with_stamps=False), "fp"
    )
    assert _no_shuffle(j)
    got = sorted((r["id"], r["lbl"]) for r in j.collect())
    exp = sorted(
        (i, f"l{i % 20}") for i in range(200) if not 0 <= i <= 49
    )
    assert got == exp
    c.commit_tx()


def test_compact_noop_early_return(spark, store_dir):
    """Review-catch regression: compact() on an already-compact
    unbucketed table (<= target_files objects, no DVs) must be a
    NO-OP — no remove/add actions, no rewrite job."""
    c = DeltaLakeClient(spark, store_dir, dataobject_size=1000)
    c.new_tx()
    c.create_table("t", "k bigint")
    c.write_dataframe("t", spark.range(100).selectExpr("id AS k").coalesce(1))
    c.commit_tx()
    c.new_tx()
    before = len(c.tx.actions)
    c.compact("t")  # single object, target_files=1: nothing to do
    assert len(c.tx.actions) == before
    # empty table: also a no-op
    c.create_table("empty", "k bigint")
    before = len(c.tx.actions)
    c.compact("empty")
    assert len(c.tx.actions) == before
    c.commit_tx()


def test_bucketed_table_guards(spark, store_dir):
    c = DeltaLakeClient(spark, store_dir, dataobject_size=4)
    c.new_tx()
    with pytest.raises(TypeMismatchError, match="bucket columns"):
        c.create_table("b1", "a int", bucket_by=(["x"], 4))
    with pytest.raises(TypeMismatchError, match="mutually exclusive"):
        c.create_table("b2", "a int, b int", bucket_by=(["a"], 4),
                       cluster_by=["b"])
    with pytest.raises(TypeMismatchError, match="n_buckets"):
        c.create_table("b3", "a int", bucket_by=(["a"], 0))
    c.create_table("t", "id bigint, fp string", bucket_by=(["fp"], 4))
    c.write_row("t", [1, "x"])
    with pytest.raises(TypeMismatchError, match="flush_buffer"):
        c.scan_bucketed("t")
    # the named remedy exists and unblocks the scan in-tx
    c.flush_buffer("t")
    assert [r["id"] for r in c.scan_bucketed("t", with_stamps=False).collect()] == [1]
    c.commit_tx()
    c.new_tx()
    # unbucketed tables refuse scan_bucketed with the remedy named
    c.create_table("plain", "a int")
    with pytest.raises(TypeMismatchError, match="not bucketed"):
        c.scan_bucketed("plain")
    # cluster/zorder compaction is rejected on bucketed tables
    with pytest.raises(TypeMismatchError, match="bucket"):
        c.compact("t", cluster_by=["fp"])
    # alter_table keeps the spec (authoritative record must carry it)
    c.alter_table("t", bloom_columns=["fp"])
    c.commit_tx()
    c.new_tx()
    assert c._effective_snapshot(c.tx).bucket_specs.get("t") == {
        "cols": ["fp"], "n": 4,
    }
    assert sorted(r["id"] for r in
                  c.scan_bucketed("t", with_stamps=False).collect()) == [1]
    c.commit_tx()


def test_overwrite_table(spark, store_dir):
    """INSERT OVERWRITE: atomic replace in one commit; readers on the
    pre-overwrite snapshot keep it; same-tx buffered rows are part of
    what the overwrite replaces; unknown tables raise."""
    c = DeltaLakeClient(spark, store_dir, dataobject_size=4)
    c.new_tx()
    c.create_table("t", "k bigint, v string")
    c.write_dataframe(
        "t", spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    )
    c.commit_tx()
    # reader pins the old snapshot BEFORE the overwrite commits
    reader = DeltaLakeClient(spark, store_dir)
    reader.new_tx()
    c.new_tx()
    c.write_row("t", [99, "buffered"])  # replaced by the overwrite
    c.overwrite_table(
        "t", spark.createDataFrame([(3, "c")], "k long, v string")
    )
    c.commit_tx()
    c.new_tx()
    assert [tuple(r) for r in c.scan("t", with_stamps=False).collect()] == [(3, "c")]
    c.commit_tx()
    assert sorted(r["k"] for r in reader.scan("t", with_stamps=False).collect()) == [1, 2]
    reader.commit_tx()
    c.new_tx()
    with pytest.raises(Exception):
        c.overwrite_table("nope", spark.createDataFrame([(1, "x")], "k long, v string"))
    c.abort_tx()


@pytest.mark.slow
def test_refresh_aggregate_view_incremental(spark, store_dir):
    """CDC-maintained materialized view: the first refresh folds the
    seed, later refreshes fold ONLY the net change-feed diff, the
    result equals a direct recompute, a fresh view refresh is a no-op
    (marker), and compaction (a pure rewrite) folds zero rows."""
    from delta_lake_experiment_spark.operators.incremental import (
        refresh_aggregate_view,
    )

    c = DeltaLakeClient(spark, store_dir, dataobject_size=1000)
    c.new_tx()
    c.create_table("src", "k string, x bigint")
    c.create_table("mv", "k string, n bigint, sum_x double")
    rows = [(f"g{i % 3}", i) for i in range(60)]
    c.write_dataframe("src", spark.createDataFrame(rows, "k string, x long"))
    c.commit_tx()

    def direct():
        c.new_tx()
        got = {
            r["k"]: (r["n"], r["sum_x"])
            for r in c.scan("mv", with_stamps=False).collect()
        }
        exp_rows = c.scan("src", with_stamps=False).groupBy("k").agg(
            F.count(F.lit(1)).alias("n"), F.sum("x").cast("double").alias("s")
        ).collect()
        c.abort_tx()
        return got, {r["k"]: (r["n"], r["s"]) for r in exp_rows}

    v1 = refresh_aggregate_view(c, "src", "mv", ["k"], ["x"])
    assert v1 > 0
    got, exp = direct()
    assert got == exp
    # fresh view: no-op, no new version
    assert refresh_aggregate_view(c, "src", "mv", ["k"], ["x"]) == 0
    # mutations: COW delete + insert of a new group
    c.new_tx()
    c.delete_rows("src", "x", 0, 19)
    c.commit_tx()
    c.new_tx()
    c.write_dataframe(
        "src", spark.createDataFrame([("g9", 100)], "k string, x long")
    )
    c.commit_tx()
    v2 = refresh_aggregate_view(c, "src", "mv", ["k"], ["x"])
    assert v2 > v1
    got, exp = direct()
    assert got == exp
    # a group deleted entirely disappears from the view
    c.new_tx()
    c.delete_rows("src", "x", 100, 100)
    c.commit_tx()
    refresh_aggregate_view(c, "src", "mv", ["k"], ["x"])
    got, exp = direct()
    assert got == exp and "g9" not in got
    # compaction is a pure rewrite: the refresh folds a ZERO diff but
    # re-publishes once to ADVANCE the marker (so the rewritten range
    # is never re-diffed); content is unchanged and the next refresh
    # is a zero-job metadata no-op
    c.new_tx()
    c.compact("src")
    c.commit_tx()
    before = got
    assert refresh_aggregate_view(c, "src", "mv", ["k"], ["x"]) > 0
    got, _ = direct()
    assert got == before
    assert refresh_aggregate_view(c, "src", "mv", ["k"], ["x"]) == 0
    # NULL keys raise in-plan instead of silently splitting the NULL
    # group across the null-unsafe merge join
    c.new_tx()
    c.write_dataframe(
        "src",
        spark.createDataFrame([(None, 7)], "k string, x long"),
    )
    c.commit_tx()
    with pytest.raises(Exception, match="non-NULL"):
        refresh_aggregate_view(c, "src", "mv", ["k"], ["x"])


@pytest.mark.slow
def test_refresh_aggregate_view_min_max_avg(spark, store_dir):
    """VERDICT r7 item 3: MIN/MAX via per-affected-key recompute (a
    retracted extremum is not foldable), AVG derived from sum/n.
    Incremental must equal a direct recompute after a delete that
    RETRACTS a group's maximum, and untouched groups must keep their
    stored extrema (their recompute is never run — verified by value
    equality after a single-group mutation)."""
    from delta_lake_experiment_spark.operators.incremental import (
        refresh_aggregate_view,
    )

    c = DeltaLakeClient(spark, store_dir, dataobject_size=1000)
    c.new_tx()
    c.create_table("src", "k string, x bigint")
    c.create_table(
        "mv",
        "k string, n bigint, sum_x double, min_x bigint, max_x bigint,"
        " avg_x double",
    )
    rows = [(f"g{i % 3}", i) for i in range(60)]
    c.write_dataframe("src", spark.createDataFrame(rows, "k string, x long"))
    c.commit_tx()
    kw = dict(sum_cols=["x"], min_cols=["x"], max_cols=["x"], avg_cols=["x"])

    def check():
        c.new_tx()
        got = {
            r["k"]: (r["n"], r["sum_x"], r["min_x"], r["max_x"],
                     round(r["avg_x"], 9))
            for r in c.scan("mv", with_stamps=False).collect()
        }
        exp_rows = (
            c.scan("src", with_stamps=False)
            .groupBy("k")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("x").cast("double").alias("s"),
                F.min("x").alias("mn"),
                F.max("x").alias("mx"),
            )
            .collect()
        )
        c.abort_tx()
        exp = {
            r["k"]: (r["n"], r["s"], r["mn"], r["mx"],
                     round(r["s"] / r["n"], 9))
            for r in exp_rows
        }
        assert got == exp, (got, exp)

    assert refresh_aggregate_view(c, "src", "mv", ["k"], **kw) > 0
    check()
    # retract g0's maximum (57) and g0's minimum (0): only g0 touched
    c.new_tx()
    c.delete_rows("src", "x", 57, 57)
    c.delete_rows("src", "x", 0, 0)
    c.commit_tx()
    assert refresh_aggregate_view(c, "src", "mv", ["k"], **kw) > 0
    check()
    # insert a brand-new group + extend an existing one's max
    c.new_tx()
    c.write_dataframe(
        "src",
        spark.createDataFrame([("g9", 1000), ("g1", 999)], "k string, x long"),
    )
    c.commit_tx()
    assert refresh_aggregate_view(c, "src", "mv", ["k"], **kw) > 0
    check()
    # avg without its sum state is a loud config error
    with pytest.raises(ValueError, match="sum_cols"):
        refresh_aggregate_view(c, "src", "mv", ["k"], avg_cols=["x"])
    # NULL avg-column values raise in-plan (sum would skip them while
    # n counts the row — silent divergence from a direct AVG)
    c.new_tx()
    c.write_dataframe(
        "src", spark.createDataFrame([("g1", None)], "k string, x long")
    )
    c.commit_tx()
    with pytest.raises(Exception, match="non-NULL"):
        refresh_aggregate_view(c, "src", "mv", ["k"], **kw)


def test_check_constraints_enforced_on_every_write_path(spark, store_dir):
    """CHECK constraints (Delta's ADD CONSTRAINT): declared at create,
    enforced in-plan on bulk ingest, buffered-row flush, and COW
    update; a violating write raises and the commit never publishes;
    NULL check results count as violations."""
    c = DeltaLakeClient(spark, store_dir, dataobject_size=1000)
    c.new_tx()
    c.create_table(
        "t", "k bigint, score double",
        checks={"score_range": "score >= 0.0 AND score <= 1.0"},
    )
    ok = spark.createDataFrame(
        [(1, 0.5), (2, 0.0), (3, 1.0)], "k long, score double"
    )
    c.write_dataframe("t", ok)
    c.commit_tx()
    # violating bulk ingest: raises, nothing published
    c.new_tx()
    with pytest.raises(Exception, match="score_range"):
        c.write_dataframe(
            "t", spark.createDataFrame([(4, 1.5)], "k long, score double")
        )
    c.abort_tx()
    c.new_tx()
    assert c.scan("t", with_stamps=False).count() == 3
    # NULL check result = violation (the SQL-standardly surprising part)
    with pytest.raises(Exception, match="score_range"):
        c.write_dataframe(
            "t", spark.createDataFrame([(5, None)], "k long, score double")
        )
    c.abort_tx()
    # buffered rows validate at flush
    c.new_tx()
    c.write_row("t", [6, 2.0])
    with pytest.raises(Exception, match="score_range"):
        c.flush_buffer("t")
    c.abort_tx()
    # COW update that would break the constraint raises
    c.new_tx()
    with pytest.raises(Exception, match="score_range"):
        c.update_rows("t", "k", 1, 1, {"score": 7.0})
    c.abort_tx()
    # no failed write above left its staging directory behind
    assert not glob.glob(os.path.join(store_dir, ".tmp", "staging_*"))
    # a valid update still goes through
    c.new_tx()
    c.update_rows("t", "k", 1, 1, {"score": 0.9})
    c.commit_tx()
    c.new_tx()
    got = {r["k"]: r["score"] for r in c.scan("t", with_stamps=False).collect()}
    assert got == {1: 0.9, 2: 0.0, 3: 1.0}
    c.abort_tx()


def test_check_constraints_enforced_on_clustered_tables(spark, store_dir):
    """Regression: a CLUSTERED table's bulk ingest skips the bucket
    funnel (repartitionByRange is its layout), but must NOT skip the
    CHECK enforcement that lives in it — violating rows once slipped
    straight into staged files on this path."""
    c = DeltaLakeClient(spark, store_dir, dataobject_size=1000)
    c.new_tx()
    c.create_table(
        "t", "k bigint, v bigint", cluster_by=["k"], checks={"pos": "v > 0"}
    )
    with pytest.raises(Exception, match="pos"):
        c.write_dataframe(
            "t",
            spark.range(10).select(
                F.col("id").alias("k"), (F.col("id") - 5).alias("v")
            ),
        )
    c.abort_tx()
    # valid rows still ingest, clustered layout intact
    c.new_tx()
    c.create_table(
        "t2", "k bigint, v bigint", cluster_by=["k"], checks={"pos": "v > 0"}
    )
    c.write_dataframe(
        "t2",
        spark.range(10).select(
            F.col("id").alias("k"), (F.col("id") + 1).alias("v")
        ),
    )
    c.commit_tx()
    c.new_tx()
    assert c.scan("t2", with_stamps=False).count() == 10
    c.abort_tx()


def test_check_constraints_alter_replay_clone_restore(spark, store_dir):
    """ALTER adds a check only if existing rows satisfy it (one scan,
    Delta semantics); checks survive log replay, checkpoints, clones
    and RESTORE; bad declarations fail loudly at declaration time."""
    c = DeltaLakeClient(spark, store_dir, dataobject_size=1000)
    c.new_tx()
    c.create_table("t", "k bigint, v string")
    c.write_dataframe(
        "t", spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    )
    c.commit_tx()
    # adding a check existing rows violate: rejected with the count
    c.new_tx()
    with pytest.raises(TypeMismatchError, match="existing row"):
        c.alter_table("t", checks={"big_k": "k > 1"})
    c.abort_tx()
    # a satisfiable check lands and governs future writes
    c.new_tx()
    c.alter_table("t", checks={"pos_k": "k > 0"})
    c.commit_tx()
    c2 = DeltaLakeClient(spark, store_dir)  # fresh replay
    c2.new_tx()
    with pytest.raises(Exception, match="pos_k"):
        c2.write_dataframe(
            "t", spark.createDataFrame([(0, "z")], "k long, v string")
        )
    c2.abort_tx()
    # clone carries the constraint
    c2.new_tx()
    c2.clone_table("t", "t2")
    c2.commit_tx()
    c2.new_tx()
    with pytest.raises(Exception, match="pos_k"):
        c2.write_dataframe(
            "t2", spark.createDataFrame([(-1, "z")], "k long, v string")
        )
    c2.abort_tx()
    # clearing with {} re-admits previously violating rows
    c2.new_tx()
    v_before_clear = c2.tx.snapshot.version
    c2.alter_table("t", checks={})
    c2.commit_tx()
    c2.new_tx()
    c2.write_dataframe(
        "t", spark.createDataFrame([(0, "z")], "k long, v string")
    )
    c2.commit_tx()
    # RESTORE to the constrained version brings the constraint back
    c2.new_tx()
    c2.restore_table("t", v_before_clear)
    c2.commit_tx()
    c2.new_tx()
    with pytest.raises(Exception, match="pos_k"):
        c2.write_dataframe(
            "t", spark.createDataFrame([(0, "y")], "k long, v string")
        )
    c2.abort_tx()
    # declaration-time validation: typos and bad names fail loudly
    c2.new_tx()
    with pytest.raises(TypeMismatchError, match="analyze"):
        c2.create_table("bad", "a int", checks={"c1": "nope > 0"})
    with pytest.raises(TypeMismatchError, match="name"):
        c2.create_table("bad2", "a int", checks={"no spaces!": "a > 0"})
    c2.abort_tx()


def test_clone_table_zero_copy(spark, store_dir):
    """SHALLOW CLONE: dst references src's live objects and DVs with
    zero data movement; the two tables then diverge independently;
    VACUUM keeps shared objects until NO table references them; the
    clone survives log replay by a fresh client."""
    import os

    c = DeltaLakeClient(spark, store_dir, dataobject_size=25)
    rows = [(i, f"v{i}") for i in range(100)]
    c.new_tx()
    c.create_table("src", "k bigint, v string", bloom_columns=["k"])
    c.write_dataframe("src", spark.createDataFrame(rows, "k long, v string"))
    c.commit_tx()
    # a DV on src BEFORE the clone: the mask must come along
    c.new_tx()
    c.delete_rows("src", "k", 90, 99, use_dv=True)
    c.commit_tx()

    def files():
        return {n for n in os.listdir(store_dir) if n.startswith("table_")}

    before = files()
    c.new_tx()
    n = c.clone_table("src", "dst")
    assert n > 1
    c.commit_tx()
    assert files() == before  # not one data object written
    c.new_tx()
    live = set(range(90))
    got = sorted(r["k"] for r in c.scan("dst", with_stamps=False).collect())
    assert got == sorted(live)  # DV mask applied through the clone
    # blooms cloned: a point lookup on dst prunes files
    snap = c._effective_snapshot(c.tx)
    assert len(snap.live_files("dst", c.store, prune={"k": (7, 7)})) < len(
        snap.live_objects("dst")
    )
    # independence: COW delete on dst leaves src intact, and vice versa
    c.delete_rows("dst", "k", 0, 49)
    c.commit_tx()
    c.new_tx()
    assert sorted(
        r["k"] for r in c.scan("dst", with_stamps=False).collect()
    ) == sorted(live - set(range(50)))
    assert sorted(
        r["k"] for r in c.scan("src", with_stamps=False).collect()
    ) == sorted(live)
    c.delete_rows("src", "k", 50, 59)
    c.commit_tx()
    c.new_tx()
    assert sorted(
        r["k"] for r in c.scan("dst", with_stamps=False).collect()
    ) == sorted(live - set(range(50)))
    c.abort_tx()
    # vacuum: src's rewrites orphaned some originals FOR SRC, but dst
    # still references others; nothing dst needs may be reclaimed
    c.vacuum()
    c2 = DeltaLakeClient(spark, store_dir)  # fresh replay
    c2.new_tx()
    assert sorted(
        r["k"] for r in c2.scan("dst", with_stamps=False).collect()
    ) == sorted(live - set(range(50)))
    # guards
    with pytest.raises(TableNotFoundError):
        c2.clone_table("nope", "x")
    with pytest.raises(TableExistsError):
        c2.clone_table("src", "dst")
    c2.write_row("src", [1000, "z"])
    with pytest.raises(TypeMismatchError, match="flush_buffer"):
        c2.clone_table("src", "dst2")
    c2.abort_tx()


def test_clone_bucketed_table_keeps_layout(spark, store_dir, smj_conf):
    """Cloning a bucketed table carries the bucket spec AND the
    per-object bucket labels: scan_bucketed on the clone plans the
    same exchange-free aggregation, values equal the source."""
    c = DeltaLakeClient(spark, store_dir, dataobject_size=1000)
    c.new_tx()
    c.create_table("t", "id bigint, fp string", bucket_by=(["fp"], 8))
    c.write_dataframe(
        "t",
        spark.createDataFrame(
            [(i, f"fp{i % 16}") for i in range(200)], "id long, fp string"
        ),
    )
    c.commit_tx()
    c.new_tx()
    c.clone_table("t", "t2")
    c.commit_tx()
    c.new_tx()
    d = c.scan_bucketed("t2", with_stamps=False)
    assert _no_shuffle(d.groupBy("fp").count())
    assert sorted(r["id"] for r in d.collect()) == list(range(200))
    c.abort_tx()


def test_update_rows_mv_source_guard(spark, store_dir):
    """The refresh_aggregate_view contract limit is self-enforcing:
    update_rows on a table carrying an mv_*__src_<table> marker raises
    (stamp-preserving corrections are invisible to the change feed);
    allow_mv_sources=True overrides; unrelated tables are unaffected."""
    from delta_lake_experiment_spark.operators.incremental import (
        refresh_aggregate_view,
    )

    c = DeltaLakeClient(spark, store_dir, dataobject_size=1000)
    c.new_tx()
    c.create_table("src", "k string, x bigint")
    c.create_table("other", "k string, x bigint")
    c.create_table("mv", "k string, n bigint, sum_x double")
    c.write_dataframe(
        "src", spark.createDataFrame([("a", 1), ("b", 2)], "k string, x long")
    )
    c.write_dataframe(
        "other", spark.createDataFrame([("a", 1)], "k string, x long")
    )
    c.commit_tx()
    refresh_aggregate_view(c, "src", "mv", ["k"], ["x"])
    c.new_tx()
    with pytest.raises(TypeMismatchError, match="allow_mv_sources"):
        c.update_rows("src", "x", 1, 1, {"x": 5})
    # unrelated table: no guard
    c.update_rows("other", "x", 1, 1, {"x": 5})
    # explicit override goes through
    c.update_rows("src", "x", 1, 1, {"x": 5}, allow_mv_sources=True)
    c.commit_tx()
    c.new_tx()
    assert sorted(
        r["x"] for r in c.scan("src", with_stamps=False).collect()
    ) == [2, 5]
    c.abort_tx()


def test_manifest_export_reads_in_duckdb(spark, store_dir):
    """write_manifest publishes the snapshot's live file list so an
    EXTERNAL engine can read the table with no engine library in the
    loop: DuckDB over the manifest's parquet paths must equal the
    engine scan value-for-value (across a COW delete), the manifest
    pins its version, and every engine-level read semantic external
    readers cannot apply (DV masks, renames, defaults, buffered rows)
    raises loudly instead of corrupting silently."""
    import duckdb

    c = DeltaLakeClient(spark, store_dir, dataobject_size=10)
    c.new_tx()
    c.create_table("t", "k BIGINT, v STRING")
    for i in range(30):
        c.write_row("t", [i, f"v{i}"])
    c.commit_tx()
    c.new_tx()
    c.delete_rows("t", "k", 5, 9)  # COW: files rewritten, no masks
    c.commit_tx()

    c.new_tx()
    paths = c.write_manifest("t")
    assert paths and all(p.endswith(".parquet") for p in paths)
    # the manifest object itself rides the store, version-pinned
    v = c.tx.snapshot.version
    stored = c.store.read(f"manifest_t_{v:020d}").decode().splitlines()
    assert stored == paths
    con = duckdb.connect()
    ext = con.execute(
        "SELECT k, v FROM read_parquet(?) ORDER BY k", [paths]
    ).fetchall()
    eng = sorted(c.scan_iter("t"))
    assert [tuple(r) for r in ext] == eng

    # guards: DV mask
    c.delete_rows("t", "k", 10, 10, use_dv=True)
    c.commit_tx()
    c.new_tx()
    with pytest.raises(TypeMismatchError, match="deletion-vector"):
        c.write_manifest("t")
    c.compact("t")  # materializes the mask
    c.commit_tx()
    c.new_tx()
    assert c.write_manifest("t")
    # guards: rename (physical names would leak)
    c.rename_column("t", "v", "label")
    with pytest.raises(TypeMismatchError, match="PHYSICAL"):
        c.write_manifest("t")
    c.abort_tx()
    # guards: defaults and buffered rows
    c.new_tx()
    c.add_columns("t", "score DOUBLE DEFAULT 1.5")
    with pytest.raises(TypeMismatchError, match="DEFAULT"):
        c.write_manifest("t")
    c.abort_tx()
    c.new_tx()
    c.write_row("t", [100, "buf"])
    with pytest.raises(TypeMismatchError, match="uncommitted"):
        c.write_manifest("t")
    c.abort_tx()


def test_manifest_materialize_one_call(spark, store_dir):
    """write_manifest(materialize=True) runs the guards' named remedy
    in the same call: a DV-masked, renamed-column, stamp-gated-default
    table exports after ONE materializing rewrite commit, and DuckDB
    over the manifest equals the engine scan — including the default
    substituted into pre-birth rows and the logical column name in
    the raw files."""
    import duckdb

    c = DeltaLakeClient(spark, store_dir, dataobject_size=10)
    c.new_tx()
    c.create_table("t", "k BIGINT, v STRING")
    for i in range(20):
        c.write_row("t", [i, f"v{i}"])
    c.commit_tx()
    c.new_tx()
    c.rename_column("t", "v", "label")  # physical name 'v' stays in files
    c.commit_tx()
    c.new_tx()
    c.add_columns("t", "score DOUBLE DEFAULT 1.5")  # stamp-gated default
    c.commit_tx()
    c.new_tx()
    c.delete_rows("t", "k", 3, 6, use_dv=True)  # DV mask
    c.commit_tx()

    c.new_tx()
    paths = c.write_manifest("t", materialize=True)
    assert paths
    eng = sorted(
        tuple(r)
        for r in c.scan("t", with_stamps=False).collect()
    )
    con = duckdb.connect()
    ext = sorted(
        tuple(r)
        for r in con.execute(
            "SELECT k, label, score FROM read_parquet(?)", [paths]
        ).fetchall()
    )
    assert ext == eng
    assert len(eng) == 16  # masked rows are GONE from the raw files
    assert all(r[2] == 1.5 for r in ext)  # default baked into rows
    # metadata reset: identity mapping, no defaults, no masks
    snap = c.tx.snapshot
    assert not snap.table_dvs("t")
    assert not snap.col_maps.get("t") or all(
        l == p for l, p in snap.col_maps["t"].items()
    )
    assert not snap.defaults.get("t")
    c.abort_tx()
    # idempotent re-export on a clean table needs no further rewrite
    c.new_tx()
    assert c.write_manifest("t", materialize=True)
    c.abort_tx()
    # the SQL surface reaches the same path
    c.new_tx()
    c.delete_rows("t", "k", 0, 0, use_dv=True)
    c.commit_tx()
    c.new_tx()
    with pytest.raises(TypeMismatchError, match="deletion-vector"):
        c.execute("GENERATE MANIFEST FOR t")
    out = c.execute("GENERATE MANIFEST FOR t MATERIALIZE")
    assert out.count() > 0
    c.abort_tx()


def test_refresh_view_not_fooled_by_lazy_checkpoints(
    spark, store_dir, monkeypatch
):
    """The metadata-only quiet check must hydrate format-3 lazy live
    lists before comparing: with the source spilled to by-table
    sidecars on BOTH snapshots, raw ``.live`` reads {} == {} and a
    changed source would be falsely judged quiet — certifying the view
    fresh while stale (r12 review finding)."""
    import delta_lake_experiment_spark.plans.snapshot as snapmod
    from delta_lake_experiment_spark.operators.incremental import (
        refresh_aggregate_view,
    )

    monkeypatch.setattr(snapmod, "CHECKPOINT_SIDECAR_MIN_ADDS", 4)
    c = DeltaLakeClient(spark, store_dir, dataobject_size=8, checkpoint_interval=2)
    c.new_tx()
    c.create_table("src", "k string, x bigint")
    c.create_table("mv", "k string, n bigint, sum_x double")
    c.create_table("pad", "k bigint")
    rows = [(f"g{i % 3}", i) for i in range(40)]  # 5 files of 8: spills
    c.write_dataframe("src", spark.createDataFrame(rows, "k string, x long"))
    c.commit_tx()  # v1
    assert refresh_aggregate_view(c, "src", "mv", ["k"], ["x"]) > 0  # v2 -> ckpt
    # marker last=2; append to src, then pad to land checkpoint v4 so
    # the CURRENT snapshot also anchors lazily with src spilled
    c.new_tx()
    c.write_dataframe(
        "src", spark.createDataFrame([("g9", 1000)], "k string, x long")
    )
    c.commit_tx()  # v3
    c.new_tx()
    c.write_row("pad", [1])
    c.commit_tx()  # v4 -> ckpt (src parts fresh, incl. the v3 file)
    folded = refresh_aggregate_view(c, "src", "mv", ["k"], ["x"])
    assert folded > 0, "changed source judged quiet through lazy snapshots"
    c.new_tx()
    got = {
        r["k"]: (r["n"], r["sum_x"])
        for r in c.scan("mv", with_stamps=False).collect()
    }
    c.abort_tx()
    assert got.get("g9") == (1, 1000.0)


def test_scan_changes_applies_stamp_gated_defaults(spark, store_dir):
    """Feature-composition gate (r13 probe battery): the change feed
    reads rows in the TO-version logical shape, so a pre-birth row
    crossing the feed must carry its stamp-gated DEFAULT — in both the
    insert direction and the delete direction."""
    c = DeltaLakeClient(spark, store_dir, dataobject_size=4)
    c.new_tx()
    c.create_table("t", "k BIGINT")
    c.write_row("t", [1])
    c.commit_tx()  # v1: pre-birth row
    c.new_tx()
    c.add_columns("t", "v STRING DEFAULT 'dft'")
    c.commit_tx()  # v2
    c.new_tx()
    c.write_row("t", [2, "real"])
    c.commit_tx()  # v3
    ch = c.scan_changes("t", 2, 3).select("k", "v", "_change_type").collect()
    assert sorted((r.k, r.v, r._change_type) for r in ch) == [
        (2, "real", "insert")
    ]
    c.new_tx()
    c.delete_rows("t", "k", 1, 1)
    c.commit_tx()  # v4: the pre-birth row leaves through the feed
    ch = c.scan_changes("t", 3, 4).select("k", "v", "_change_type").collect()
    assert sorted((r.k, r.v, r._change_type) for r in ch) == [
        (1, "dft", "delete")
    ]


def test_overwrite_table_continues_identity_mark(spark, store_dir):
    """Feature-composition gate (r13 probe battery): INSERT OVERWRITE
    on an identity table mints fresh ids for the new rows and the mark
    CONTINUES across the overwrite — post-overwrite inserts never
    re-mint a replaced row's id."""
    c = DeltaLakeClient(spark, store_dir, dataobject_size=100)
    c.new_tx()
    c.create_table(
        "t", "id BIGINT, v STRING", identity={"id": {"start": 1, "step": 1}}
    )
    for i in range(3):
        c.write_row("t", [None, f"a{i}"])
    c.commit_tx()
    c.new_tx()
    c.overwrite_table(
        "t", spark.createDataFrame([("x",), ("y",)], "v STRING")
    )
    c.commit_tx()
    c.new_tx()
    c.write_row("t", [None, "z"])
    c.commit_tx()
    c.new_tx()
    rows = {r.v: r.id for r in c.scan("t", with_stamps=False).collect()}
    c.abort_tx()
    assert set(rows) == {"x", "y", "z"}
    assert len(set(rows.values())) == 3
    assert rows["z"] > max(rows["x"], rows["y"])


def test_clone_enforces_copied_check_constraints(spark, store_dir):
    """Feature-composition gate (r13 probe battery): a clone's copied
    CHECK constraints are ENFORCED on writes into the clone."""
    c = DeltaLakeClient(spark, store_dir, dataobject_size=4)
    c.new_tx()
    c.create_table("t", "k BIGINT", checks={"pos": "k > 0"})
    c.write_row("t", [5])
    c.commit_tx()
    c.new_tx()
    c.clone_table("t", "u")
    c.commit_tx()
    c.new_tx()
    c.write_row("u", [-1])
    with pytest.raises(Exception, match="CHECK constraint 'pos'"):
        c.flush_buffer("u")
    c.abort_tx()
