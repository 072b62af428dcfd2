"""SQL DML router: micro-grammar parsing + transactional execution."""

import pytest
from pyspark.sql import functions as F

from delta_lake_experiment_spark.client import DeltaLakeClient
from delta_lake_experiment_spark.plans.actions import RemoveDataObject
from delta_lake_experiment_spark.plans.dml import (
    Delete,
    Insert,
    Merge,
    Update,
    UnsupportedSqlError,
    parse_dml,
)


def test_parse_delete_between_and_equality():
    d = parse_dml("DELETE FROM t WHERE k BETWEEN 3 AND 7")
    assert d == Delete(table="t", column="k", start=3, end=7)
    d = parse_dml("delete from t where name = 'O''Brien';")
    assert d == Delete(table="t", column="name", start="O'Brien", end="O'Brien")
    with pytest.raises(UnsupportedSqlError):
        parse_dml("DELETE FROM t WHERE k > 3")  # not the range primitive
    with pytest.raises(UnsupportedSqlError):
        parse_dml("DELETE FROM t")  # unqualified delete


def test_parse_update():
    u = parse_dml("UPDATE t SET v = 1.5, tag = 'a,b' WHERE k = 2")
    assert u == Update(
        table="t", set_values={"v": 1.5, "tag": "a,b"}, column="k", start=2, end=2
    )
    with pytest.raises(UnsupportedSqlError):
        parse_dml("UPDATE t SET v = v + 1 WHERE k = 2")  # expression SET


def test_parse_insert_and_passthrough():
    i = parse_dml("INSERT INTO t SELECT a, b FROM s WHERE b > 3")
    assert i == Insert(table="t", query="SELECT a, b FROM s WHERE b > 3")
    assert parse_dml("SELECT * FROM t") is None  # reads pass through


def test_parse_merge():
    m = parse_dml(
        "MERGE INTO t USING (SELECT k, v FROM s) "
        "WHEN MATCHED THEN UPDATE WHEN NOT MATCHED THEN INSERT"
    )
    assert m == Merge(
        table="t", query="SELECT k, v FROM s", when_matched="update", when_not_matched="insert"
    )
    # clause defaults are Delta-style update/insert
    m = parse_dml("merge into t using src_view;")
    assert m == Merge(
        table="t", query="SELECT * FROM src_view", when_matched="update", when_not_matched="insert"
    )
    m = parse_dml(
        "MERGE INTO t USING (SELECT * FROM s) "
        "WHEN MATCHED THEN DELETE WHEN NOT MATCHED THEN IGNORE"
    )
    assert (m.when_matched, m.when_not_matched) == ("delete", "ignore")
    with pytest.raises(UnsupportedSqlError):
        parse_dml("MERGE INTO t USING (SELECT 1) WHEN MATCHED THEN INSERT")
    with pytest.raises(UnsupportedSqlError):
        parse_dml("MERGE INTO t USING (SELECT 1) WHEN NOT MATCHED THEN UPDATE")
    with pytest.raises(UnsupportedSqlError):
        parse_dml("MERGE INTO t USING SELECT 1")  # unparenthesized query


def test_parse_ddl_and_utility_statements():
    from delta_lake_experiment_spark.plans.dml import (
        CreateTable,
        Optimize,
        Restore,
        Vacuum,
    )

    ct = parse_dml(
        "CREATE TABLE t (k BIGINT, v DECIMAL(10,2), s STRING) "
        "PRIMARY KEY (k) BLOOM (s) CLUSTER BY (k, s)"
    )
    assert ct == CreateTable(
        table="t",
        schema_ddl="k BIGINT, v DECIMAL(10,2), s STRING",
        primary_keys=["k"],
        bloom_columns=["s"],
        cluster_by=["k", "s"],
    )
    assert parse_dml("create table t (k BIGINT)") == CreateTable(
        table="t", schema_ddl="k BIGINT", primary_keys=[], bloom_columns=[], cluster_by=[]
    )
    assert parse_dml("OPTIMIZE t FILES 4 ZORDER BY (x, y)") == Optimize(
        table="t", target_files=4, cluster_by=None, zorder_by=["x", "y"]
    )
    assert parse_dml("OPTIMIZE t") == Optimize(
        table="t", target_files=1, cluster_by=None, zorder_by=None
    )
    assert parse_dml("VACUUM t RETAIN 3 VERSIONS") == Vacuum(table="t", retain_versions=3)
    assert parse_dml("RESTORE TABLE t TO VERSION 2") == Restore(table="t", version=2)
    with pytest.raises(UnsupportedSqlError):
        parse_dml("OPTIMIZE t CLUSTER BY (a) ZORDER BY (b)")  # both clauses
    from delta_lake_experiment_spark.plans.dml import ShowDroppedTables

    assert parse_dml("SHOW DROPPED TABLES") == ShowDroppedTables(verify=False)
    assert parse_dml("show dropped tables verify;") == ShowDroppedTables(
        verify=True
    )
    # glued keyword is NOT the verb: falls through to Catalyst, which
    # rejects it as invalid SQL (r15 review catch: \s* would have
    # silently accepted it as VERIFY)
    assert parse_dml("SHOW DROPPED TABLESVERIFY") is None


def test_sql_only_lifecycle(spark, store_dir):
    """The whole engine drivable through execute(): DDL, ingest, merge,
    optimize, restore, vacuum — no Python-API calls for the lifecycle."""
    c = DeltaLakeClient(spark, store_dir)
    c.new_tx()
    c.execute("CREATE TABLE kv (k BIGINT, v STRING) PRIMARY KEY (k) CLUSTER BY (k)")
    c.execute("CREATE TABLE src (k BIGINT, v STRING)")
    c.commit_tx()  # v1

    c.new_tx()
    c.register_views()
    c.execute("INSERT INTO kv SELECT * FROM VALUES (1, 'a'), (2, 'b') AS t(k, v)")
    c.execute("INSERT INTO src SELECT * FROM VALUES (2, 'B'), (3, 'C') AS t(k, v)")
    c.commit_tx()  # v2

    c.new_tx()
    c.register_views()
    c.execute("MERGE INTO kv USING src")
    c.commit_tx()  # v3
    c.new_tx()
    assert {r["k"]: r["v"] for r in c.scan_current("kv").collect()} == {
        1: "a", 2: "B", 3: "C",
    }
    c.execute("OPTIMIZE kv FILES 1")
    c.commit_tx()  # v4
    c.new_tx()
    c.execute("RESTORE TABLE kv TO VERSION 2")
    c.commit_tx()  # v5: back to pre-merge
    c.new_tx()
    assert {r["k"]: r["v"] for r in c.scan_current("kv").collect()} == {1: "a", 2: "b"}
    c.commit_tx()
    assert c.execute("VACUUM kv") is None  # outside-tx maintenance runs
    c.new_tx()
    assert {r["k"]: r["v"] for r in c.scan_current("kv").collect()} == {1: "a", 2: "b"}
    c.commit_tx()


def test_sql_version_as_of(spark, store_dir):
    """SQL time travel: `FROM t VERSION AS OF n` reads the table pinned
    at log version n — rewritten to a scan_as_of-backed view before
    Catalyst parses (Spark only accepts the clause on datasources)."""
    c = DeltaLakeClient(spark, store_dir)
    c.new_tx()
    c.create_table("t", "k BIGINT, v STRING")
    c.write_dataframe(
        "t", spark.createDataFrame([(1, "a"), (2, "b")], "k BIGINT, v STRING")
    )
    c.commit_tx()  # v1
    c.new_tx()
    c.delete_rows("t", "k", 2, 2)
    c.write_dataframe("t", spark.createDataFrame([(3, "c")], "k BIGINT, v STRING"))
    c.commit_tx()  # v2

    c.new_tx()
    c.register_views()
    old = c.sql("SELECT k FROM t VERSION AS OF 1 ORDER BY k")
    assert [r["k"] for r in old.collect()] == [1, 2]
    assert old.columns == ["k"]  # stamp columns stay internal
    cur = c.sql("SELECT k FROM t ORDER BY k")
    assert [r["k"] for r in cur.collect()] == [1, 3]
    # both versions joinable in one statement
    joined = c.sql(
        """
        SELECT o.k FROM t VERSION AS OF 1 o
        LEFT ANTI JOIN t ON o.k = t.k ORDER BY o.k
        """
    )
    assert [r["k"] for r in joined.collect()] == [2]
    c.commit_tx()


def test_execute_merge_end_to_end(spark, store_dir):
    c = DeltaLakeClient(spark, store_dir)
    c.new_tx()
    c.create_table("kv", "k BIGINT, v STRING", primary_keys=["k"])
    c.write_dataframe(
        "kv", spark.createDataFrame([(1, "a"), (2, "b")], "k BIGINT, v STRING")
    )
    c.create_table("src", "k BIGINT, v STRING")
    c.write_dataframe(
        "src", spark.createDataFrame([(2, "B"), (3, "C")], "k BIGINT, v STRING")
    )
    c.commit_tx()

    c.new_tx()
    c.register_views()
    c.execute(
        "MERGE INTO kv USING (SELECT k, v FROM src) "
        "WHEN MATCHED THEN UPDATE WHEN NOT MATCHED THEN INSERT"
    )
    c.commit_tx()
    c.new_tx()
    cur = {r["k"]: r["v"] for r in c.scan_current("kv").collect()}
    assert cur == {1: "a", 2: "B", 3: "C"}
    c.commit_tx()


def test_execute_end_to_end(spark, store_dir):
    c = DeltaLakeClient(spark, store_dir, dataobject_size=100)
    c.new_tx()
    c.create_table("t", "k BIGINT, v DOUBLE, tag STRING")
    for i in range(10):
        c.write_row("t", [i, float(i), "x"])
    c.commit_tx()

    c.new_tx()
    c.register_views("t")
    c.execute("DELETE FROM t WHERE k BETWEEN 0 AND 2")
    c.execute("UPDATE t SET v = 99.0, tag = 'hot' WHERE k = 9")
    c.create_table("t2", "k BIGINT, v DOUBLE")
    c.execute("INSERT INTO t2 SELECT k, v FROM t WHERE k >= 8")
    c.commit_tx()

    c.new_tx()
    rows = {r["k"]: (r["v"], r["tag"]) for r in c.scan("t", with_stamps=False).collect()}
    assert set(rows) == set(range(3, 10))
    assert rows[9] == (99.0, "hot")
    # INSERT INTO ... SELECT ran against the pre-DML view snapshot
    # (views are resolved eagerly at register_views) — k>=8 of original
    t2 = {r["k"]: r["v"] for r in c.scan("t2", with_stamps=False).collect()}
    assert set(t2) == {8, 9}
    # read statements return a DataFrame
    df = c.execute("SELECT COUNT(*) AS n FROM t")
    assert df is not None
    c.commit_tx()


def test_parse_describe_history():
    from delta_lake_experiment_spark.plans.dml import DescribeHistory

    d = parse_dml("DESCRIBE HISTORY t")
    assert d == DescribeHistory(table="t", limit=None)
    d = parse_dml("describe history kv limit 5;")
    assert d == DescribeHistory(table="kv", limit=5)
    from delta_lake_experiment_spark.plans.dml import (
        DescribeChanges,
        DescribeDetail,
    )

    assert parse_dml("DESCRIBE DETAIL t") == DescribeDetail(table="t")
    assert parse_dml("describe changes t from 3 to 7") == DescribeChanges(
        table="t", from_version=3, to_version=7
    )
    assert parse_dml("DESCRIBE CHANGES t FROM 3") == DescribeChanges(
        table="t", from_version=3, to_version=None
    )
    with pytest.raises(UnsupportedSqlError):
        parse_dml("DESCRIBE EXTENDED t")  # outside the grammar


def test_timestamp_as_of_and_history(spark, store_dir):
    """Commit wall-clocks power TIMESTAMP AS OF (python + SQL),
    history(), and DESCRIBE HISTORY."""
    import datetime

    c = DeltaLakeClient(spark, store_dir)
    c.new_tx()
    c.create_table("t", "k BIGINT, v STRING")
    c.write_dataframe(
        "t", spark.createDataFrame([(1, "a"), (2, "b")], "k BIGINT, v STRING")
    )
    c.commit_tx()  # v1
    between = datetime.datetime.now(datetime.timezone.utc)
    c.new_tx()
    c.write_dataframe("t", spark.createDataFrame([(3, "c")], "k BIGINT, v STRING"))
    c.commit_tx()  # v2

    # python surface: resolve wall-clock between the commits -> v1
    c.new_tx()
    assert c.scan_as_of("t", timestamp=between).count() == 2
    assert c.scan_as_of("t", timestamp=datetime.datetime.now(
        datetime.timezone.utc)).count() == 3
    with pytest.raises(ValueError):
        c.scan_as_of("t", version=1, timestamp=between)  # exactly one
    with pytest.raises(Exception):
        c.scan_as_of("t", timestamp="2000-01-01")  # precedes every commit

    # SQL surface
    c.register_views()
    iso = between.strftime("%Y-%m-%dT%H:%M:%S.%f")
    old = c.sql(f"SELECT k FROM t TIMESTAMP AS OF '{iso}' ORDER BY k")
    assert [r["k"] for r in old.collect()] == [1, 2]
    c.commit_tx()

    # history: newest-first, ts monotone non-decreasing backwards
    h = c.history().collect()
    assert [r["version"] for r in h] == [2, 1]
    assert all(r["timestamp"] is not None for r in h)
    assert h[0]["timestamp"] >= h[1]["timestamp"]
    assert h[0]["tables"] == ["t"] and h[0]["num_added_files"] >= 1
    assert c.history(limit=1).count() == 1

    # DESCRIBE HISTORY via execute(), valid outside a tx
    dh = c.execute("DESCRIBE HISTORY t LIMIT 1")
    assert dh is not None and dh.count() == 1
    assert dh.collect()[0]["version"] == 2


def test_history_labels_dv_delete_as_delete(spark, store_dir):
    """A deletion-vector delete reads DELETE in history() and DESCRIBE
    HISTORY, like a copy-on-write delete — never the raw action kind."""
    c = DeltaLakeClient(spark, store_dir)
    c.new_tx()
    c.create_table("t", "k BIGINT, v STRING")
    c.write_dataframe(
        "t", spark.createDataFrame([(1, "a"), (2, "b")], "k BIGINT, v STRING")
    )
    c.commit_tx()
    c.new_tx()
    c.delete_rows("t", "k", 1, 1, use_dv=True)
    c.commit_tx()

    newest = c.history(limit=1).collect()[0]
    described = c.execute("DESCRIBE HISTORY t LIMIT 1").collect()[0]
    for row in (newest, described):
        ops = row["operation"].split("+")
        assert "DELETE" in ops and "DV" not in ops, row["operation"]
        assert row["num_removed_files"] == 0  # a mask, not a rewrite


def test_merge_prunes_table_files_by_source_key_bounds(
    spark, store_dir, monkeypatch
):
    """A MERGE's table-side reads are pruned by the SOURCE's key
    bounds through the log-level stats: a range-local source touches
    O(matching files), a delete-merge's DV names only candidate
    files, and results are identical to the unpruned semantics. Each
    merge plans its file list ONCE (one ``Snapshot.live_files``) and
    reuses it for the probe, the matched-key read and the DV lane."""
    from delta_lake_experiment_spark.plans.actions import AddDeletionVector
    from delta_lake_experiment_spark.plans.snapshot import Snapshot

    c = DeltaLakeClient(spark, store_dir, dataobject_size=10)
    c.new_tx()
    c.create_table("kv", "k BIGINT, v STRING", primary_keys=["k"])
    for i in range(40):  # 4 files, disjoint k ranges 0-9/10-19/20-29/30-39
        c.write_row("kv", [i, f"v{i}"])
    c.commit_tx()

    # bounds land on one file only
    c.new_tx()
    pr, any_keys = c._source_key_bounds(
        spark.createDataFrame([(12, "X"), (14, "Y")], "k BIGINT, v STRING"),
        "kv",
        ["k"],
    )
    assert any_keys and pr == {"k": (12, 14)}
    snap = c._effective_snapshot(c.tx)
    assert len(snap.live_files("kv", c.store, prune=pr)) == 1
    # delete-merge: the DV mask may only reference the candidate file
    candidates = {
        n.rsplit("/", 1)[-1] for n in snap.live_files("kv", c.store, prune=pr)
    }
    plans = []
    live_files = Snapshot.live_files

    def _counted(self, *a, **kw):
        plans.append(a[0])
        return live_files(self, *a, **kw)

    monkeypatch.setattr(Snapshot, "live_files", _counted)
    out = c.merge(
        "kv",
        spark.createDataFrame([(12, "X"), (14, "Y"), (99, "Z")], "k BIGINT, v STRING"),
        when_matched="delete",
        when_not_matched="insert",
    )
    assert out == {"updated": 0, "deleted": 2, "inserted": 1}
    assert plans == ["kv"]
    dvs = [a for a in c.tx.actions if isinstance(a, AddDeletionVector)]
    assert dvs and set(dvs[0].objects) <= candidates
    c.commit_tx()
    c.new_tx()
    cur = {r["k"]: r["v"] for r in c.scan_current("kv").collect()}
    assert 12 not in cur and 14 not in cur and cur[99] == "Z"
    assert cur[13] == "v13" and len(cur) == 39
    # update-merge through the pruned matched-keys probe
    plans.clear()
    out = c.merge(
        "kv",
        spark.createDataFrame([(13, "UPD"), (100, "NEW")], "k BIGINT, v STRING"),
    )
    assert out == {"updated": 1, "deleted": 0, "inserted": 1}
    assert plans == ["kv"]
    c.commit_tx()
    c.new_tx()
    cur = {r["k"]: r["v"] for r in c.scan_current("kv").collect()}
    assert cur[13] == "UPD" and cur[100] == "NEW" and len(cur) == 40
    c.commit_tx()


def test_merge_empty_or_null_key_source_skips_table_read(spark, store_dir):
    c = DeltaLakeClient(spark, store_dir, dataobject_size=10)
    c.new_tx()
    c.create_table("kv", "k BIGINT, v STRING", primary_keys=["k"])
    for i in range(20):
        c.write_row("kv", [i, f"v{i}"])
    c.commit_tx()

    c.new_tx()
    empty = spark.createDataFrame([], "k BIGINT, v STRING")
    out = c.merge("kv", empty, when_matched="delete", when_not_matched="insert")
    assert out == {"updated": 0, "deleted": 0, "inserted": 0}
    # all-NULL keys: nothing matches (SQL equi-join), rows still insert
    nulls = spark.createDataFrame([(None, "n1"), (None, "n2")], "k BIGINT, v STRING")
    pr, any_keys = c._source_key_bounds(nulls, "kv", ["k"])
    assert pr is None and any_keys is False
    out = c.merge("kv", nulls, when_matched="delete", when_not_matched="insert")
    assert out == {"updated": 0, "deleted": 0, "inserted": 2}
    c.commit_tx()
    c.new_tx()
    rows = c.scan("kv", with_stamps=False).collect()
    assert len(rows) == 22 and sum(1 for r in rows if r["k"] is None) == 2
    c.commit_tx()


def test_parse_alter_statements():
    from delta_lake_experiment_spark.plans.dml import (
        AlterAddColumns,
        AlterColumnType,
        AlterDropColumn,
        AlterRenameColumn,
        UnsupportedSqlError,
        parse_dml,
    )

    s = parse_dml("ALTER TABLE t RENAME COLUMN a TO b;")
    assert isinstance(s, AlterRenameColumn) and (s.table, s.old, s.new) == ("t", "a", "b")
    s = parse_dml("alter table t drop column a")
    assert isinstance(s, AlterDropColumn) and (s.table, s.column) == ("t", "a")
    s = parse_dml("ALTER TABLE t ALTER COLUMN a TYPE bigint")
    assert isinstance(s, AlterColumnType) and s.new_type == "bigint"
    s = parse_dml("ALTER TABLE t ALTER COLUMN a TYPE decimal(20, 0)")
    assert isinstance(s, AlterColumnType) and s.new_type == "decimal(20, 0)"
    s = parse_dml("ALTER TABLE t ADD COLUMNS (x bigint, y string)")
    assert isinstance(s, AlterAddColumns) and s.columns_ddl == "x bigint, y string"
    s = parse_dml("ALTER TABLE t ADD COLUMN (x bigint)")
    assert isinstance(s, AlterAddColumns)
    import pytest as _pytest

    with _pytest.raises(UnsupportedSqlError, match="ALTER supports"):
        parse_dml("ALTER TABLE t SET TBLPROPERTIES ('a' = 'b')")


def test_execute_alter_end_to_end(spark, store_dir):
    """The SQL schema-evolution lane: rename/widen/add/drop through
    execute(), values preserved across all four O(1) metadata moves."""
    c = DeltaLakeClient(spark, store_dir, dataobject_size=10)
    c.new_tx()
    c.create_table("t", "k INT, v STRING, dead DOUBLE")
    for i in range(10):
        c.write_row("t", [i, f"v{i}", float(i)])
    c.commit_tx()

    c.new_tx()
    c.execute("ALTER TABLE t RENAME COLUMN v TO label")
    c.execute("ALTER TABLE t ALTER COLUMN k TYPE bigint")
    c.execute("ALTER TABLE t DROP COLUMN dead")
    c.execute("ALTER TABLE t ADD COLUMNS (score DOUBLE)")
    c.commit_tx()

    c.new_tx()
    sch = {f.name: f.dataType.simpleString() for f in c.table_schema("t").fields}
    assert sch == {"k": "bigint", "label": "string", "score": "double"}
    c.write_row("t", [2**40, "wide", 1.5])
    c.commit_tx()
    c.new_tx()
    rows = sorted(c.scan_iter("t"))
    assert rows[0] == (0, "v0", None) and rows[-1] == (2**40, "wide", 1.5)
    c.commit_tx()


def test_parse_optimize_where():
    from delta_lake_experiment_spark.plans.dml import Optimize, parse_dml

    s = parse_dml("OPTIMIZE t WHERE k BETWEEN 10 AND 19")
    assert isinstance(s, Optimize) and s.where == ("k", 10, 19)
    s = parse_dml("OPTIMIZE t FILES 2 WHERE k = 5 CLUSTER BY (k)")
    assert s.target_files == 2 and s.where == ("k", 5, 5)
    assert s.cluster_by == ["k"]
    s = parse_dml("OPTIMIZE t FILES 3")
    assert s.where is None and s.target_files == 3


def test_selective_compaction_rewrites_only_matching_files(spark, store_dir):
    """OPTIMIZE ... WHERE: only files whose stats intersect the range
    are rewritten; the cold bulk keeps its object names. DVs on
    in-range files materialize; out-of-range DVs stay."""
    c = DeltaLakeClient(spark, store_dir, dataobject_size=10)
    c.new_tx()
    c.create_table("t", "k BIGINT, v STRING")
    for i in range(40):  # 4 files: 0-9 / 10-19 / 20-29 / 30-39
        c.write_row("t", [i, f"v{i}"])
    c.commit_tx()
    # two small same-range commits create compactable fragments + a DV
    c.new_tx()
    for i in (10, 11):
        c.write_row("t", [100 + i, f"x{i}"])
    c.commit_tx()
    c.new_tx()
    c.delete_rows("t", "k", 15, 15, use_dv=True)
    c.commit_tx()

    c.new_tx()
    snap = c._effective_snapshot(c.tx)
    before = {o.name for o in snap.live_objects("t")}
    cold = {
        o.name
        for o in snap.live_objects("t")
        if o.stats and "k" in o.stats and int(o.stats["k"][1]) < 10
    }
    assert cold  # the 0-9 file
    c.compact("t", where=("k", 10, 19))
    # no read set: the rewrite-tagged adds carry the same rows, so a
    # recorded range would only conflict with concurrent in-range inserts
    assert c.tx.read_scopes == {} and c.tx.read_files == {}
    c.commit_tx()

    c.new_tx()
    snap = c._effective_snapshot(c.tx)
    after = {o.name for o in snap.live_objects("t")}
    assert cold <= after, "cold file was rewritten by a selective compact"
    assert before != after  # hot range did rewrite
    # the in-range DV materialized (mask retired with its object)
    assert not snap.table_dvs("t")
    rows = sorted(r[0] for r in c.scan_iter("t"))
    assert rows == sorted(set(range(40)) - {15} | {110, 111})
    # selective no-op: the already-compacted range returns early
    before2 = {o.name for o in snap.live_objects("t")}
    c.compact("t", where=("k", 0, 9))
    snap2 = c._effective_snapshot(c.tx)
    assert {o.name for o in snap2.live_objects("t")} == before2
    c.commit_tx()


def test_merge_bucket_cut_on_bucketed_pkey_table(spark, store_dir):
    """On a table bucketed by the merge key, a small source's distinct
    keys hash driver-side to an exact bucket-id set: the delete-merge's
    DV mask may only name files in those buckets, and values equal the
    unpruned semantics."""
    from delta_lake_experiment_spark.plans.actions import AddDeletionVector
    from delta_lake_experiment_spark.plans.bucketing import bucket_id_for

    c = DeltaLakeClient(spark, store_dir, dataobject_size=1000)
    c.new_tx()
    c.create_table(
        "kv", "k BIGINT, v STRING", primary_keys=["k"], bucket_by=(["k"], 8)
    )
    c.write_dataframe(
        "kv",
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(400)], "k BIGINT, v STRING"
        ),
    )
    c.commit_tx()

    c.new_tx()
    snap = c._effective_snapshot(c.tx)
    kb = c._source_bucket_ids(
        spark.createDataFrame([(7, "X"), (13, "Y")], "k BIGINT, v STRING"),
        "kv",
        ["k"],
        snap,
    )
    assert kb == {
        bucket_id_for([7], ["bigint"], 8),
        bucket_id_for([13], ["bigint"], 8),
    }
    allowed = {
        o.name for o in snap.live_objects("kv") if int(o.bucket_id) in kb
    }
    out = c.merge(
        "kv",
        spark.createDataFrame(
            [(7, "X"), (13, "Y"), (9999, "Z")], "k BIGINT, v STRING"
        ),
        when_matched="delete",
        when_not_matched="insert",
    )
    assert out == {"updated": 0, "deleted": 2, "inserted": 1}
    dvs = [a for a in c.tx.actions if isinstance(a, AddDeletionVector)]
    assert dvs and set(dvs[0].objects) <= allowed
    c.commit_tx()
    c.new_tx()
    cur = {r["k"]: r["v"] for r in c.scan_current("kv").collect()}
    assert 7 not in cur and 13 not in cur and cur[9999] == "Z"
    assert len(cur) == 399
    # a non-key-bucketed shape (bucket cols not subset of keys) -> no cut
    assert (
        c._source_bucket_ids(
            spark.createDataFrame([(1, "a")], "k BIGINT, v STRING"),
            "kv",
            ["v"],
            c._effective_snapshot(c.tx),
        )
        is None
    )
    c.commit_tx()


def test_describe_detail_and_changes_sql(spark, store_dir):
    """DESCRIBE DETAIL reports the table's log-derived metadata and
    schema-evolution state in one metadata-only row; DESCRIBE CHANGES
    surfaces the change feed through SQL."""
    c = DeltaLakeClient(spark, store_dir, dataobject_size=10)
    c.new_tx()
    c.create_table(
        "t", "k BIGINT, v STRING", primary_keys=["k"], bloom_columns=["k"]
    )
    for i in range(20):
        c.write_row("t", [i, f"v{i}"])
    c.commit_tx()
    c.new_tx()
    v0 = c.tx.snapshot.version
    c.rename_column("t", "v", "label")
    c.add_columns("t", "score DOUBLE DEFAULT 1.5")
    c.commit_tx()
    c.new_tx()
    c.delete_rows("t", "k", 3, 3, use_dv=True)
    c.commit_tx()

    c.new_tx()
    d = c.execute("DESCRIBE DETAIL t").collect()[0]
    assert d["num_files"] == 2 and d["num_rows"] == 20
    assert d["size_bytes"] and d["size_bytes"] > 0
    assert d["num_deletion_vectors"] == 1
    assert d["primary_keys"] == ["k"] and d["bloom_columns"] == ["k"]
    assert d["column_mapping"] == {"label": "v"}
    assert d["column_defaults"] == {"score": "1.5"}
    assert "label STRING".lower() in d["schema_ddl"].lower()

    feed = c.execute(f"DESCRIBE CHANGES t FROM {v0}")
    got = sorted((r["k"], r["_change_type"]) for r in feed.collect())
    assert got == [(3, "delete")]
    c.commit_tx()


def test_vacuum_dry_run_sql(spark, store_dir):
    """VACUUM ... DRY RUN returns the would-reclaim report as rows and
    deletes nothing; the plain VACUUM then reclaims them."""
    c = DeltaLakeClient(spark, store_dir, dataobject_size=5)
    c.new_tx()
    c.create_table("t", "k BIGINT, v STRING")
    for i in range(10):
        c.write_row("t", [i, f"v{i}"])
    c.commit_tx()
    c.new_tx()
    c.delete_rows("t", "k", 0, 9)  # retires both objects
    c.commit_tx()

    before = set(c.store.list_prefix_ordered("table_t_"))
    rep = c.execute("VACUUM t DRY RUN")
    names = {r["name"] for r in rep.collect()}
    assert names and names <= before
    assert set(c.store.list_prefix_ordered("table_t_")) == before  # nothing deleted
    c.execute("VACUUM t")
    after = set(c.store.list_prefix_ordered("table_t_"))
    assert after == before - names
    from delta_lake_experiment_spark.plans.dml import Vacuum, parse_dml

    s = parse_dml("VACUUM t RETAIN 3 VERSIONS DRY RUN")
    assert s == Vacuum(table="t", retain_versions=3, dry_run=True)


def test_merge_bucket_cut_timestamp_keys_tz_safe(spark, store_dir):
    """Review catch: timestamp bucket keys collected via Row come back
    OS-local-naive, and hashing them as UTC would compute WRONG bucket
    ids on non-UTC drivers (a silently wrong merge). The cut now
    extracts epoch micros engine-side; the computed bucket ids must
    match the labels of the files that actually hold the keys."""
    import datetime as dt

    c = DeltaLakeClient(spark, store_dir, dataobject_size=1000)
    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    rows = [(base + dt.timedelta(hours=i), f"v{i}") for i in range(64)]
    c.new_tx()
    c.create_table(
        "ts_kv", "ts TIMESTAMP, v STRING", primary_keys=["ts"],
        bucket_by=(["ts"], 8),
    )
    c.write_dataframe(
        "ts_kv", spark.createDataFrame(rows, "ts TIMESTAMP, v STRING")
    )
    c.commit_tx()

    c.new_tx()
    snap = c._effective_snapshot(c.tx)
    probe = spark.createDataFrame(
        [(rows[7][0], "X"), (rows[21][0], "Y")], "ts TIMESTAMP, v STRING"
    )
    kb = c._source_bucket_ids(probe, "ts_kv", ["ts"], snap)
    assert kb is not None and kb
    # ground truth: the buckets of the files that really hold those keys
    lo, hi = rows[7][0], rows[7][0]
    truth = set()
    for key in (rows[7][0], rows[21][0]):
        names = snap.live_files("ts_kv", c.store, prune={"ts": (key, key)})
        held = {
            int(o.bucket_id)
            for o in snap.live_objects("ts_kv")
            if c.store.path_of(o.name) in set(names)
        }
        assert held & kb, f"cut {kb} excludes the bucket holding {key}"
        truth |= held
    # a delete-merge on those keys really deletes them through the cut
    out = c.merge("ts_kv", probe, when_matched="delete", when_not_matched="ignore")
    assert out["deleted"] == 2
    c.commit_tx()
    c.new_tx()
    remaining = {r[0] for r in c.scan_iter("ts_kv")}
    assert rows[7][0] not in remaining and rows[21][0] not in remaining
    assert len(remaining) == 62
    c.commit_tx()


def test_describe_detail_outside_tx(spark, store_dir):
    """DESCRIBE DETAIL is a metadata read, valid outside a transaction
    like its HISTORY/CHANGES siblings (review catch: it used to raise
    the no-transaction error)."""
    c = DeltaLakeClient(spark, store_dir, dataobject_size=10)
    c.new_tx()
    c.create_table("t", "k BIGINT")
    c.write_row("t", [1])
    c.commit_tx()
    assert c.tx is None
    d = c.execute("DESCRIBE DETAIL t").collect()[0]
    assert d["num_rows"] == 1 and d["num_files"] == 1


def test_generate_manifest_sql(spark, store_dir):
    from delta_lake_experiment_spark.plans.dml import GenerateManifest

    assert parse_dml("GENERATE MANIFEST FOR t;") == GenerateManifest(table="t")
    c = DeltaLakeClient(spark, store_dir, dataobject_size=10)
    c.new_tx()
    c.create_table("t", "k BIGINT")
    for i in range(20):
        c.write_row("t", [i])
    c.commit_tx()
    c.new_tx()
    rows = c.execute("GENERATE MANIFEST FOR t").collect()
    assert len(rows) == 2 and all(r["path"].endswith(".parquet") for r in rows)
    c.commit_tx()


def test_compact_target_bytes_skips_large_files(spark, store_dir):
    """Size-aware OPTIMIZE (target_bytes): only files smaller than the
    target are rewritten — the already-at-target object survives
    untouched (same name), the small trickle bin-packs, content is
    identical. Repeated runs converge to a no-op."""
    from delta_lake_experiment_spark.plans.snapshot import replay_log
    from delta_lake_experiment_spark.storage.objectstore import (
        LocalObjectStorage,
    )

    c = DeltaLakeClient(spark, store_dir)
    c.new_tx()
    c.create_table("t", "k BIGINT, v STRING")
    c.commit_tx()
    c.new_tx()  # one BIG object
    c.write_dataframe(
        "t",
        spark.range(0, 2000).coalesce(1).select(
            F.col("id").alias("k"), F.lit("big").alias("v")
        ),
    )
    c.commit_tx()
    for i in range(4):  # four small one-file commits
        c.new_tx()
        c.write_dataframe(
            "t",
            spark.range(10000 + i * 10, 10000 + (i + 1) * 10)
            .coalesce(1)
            .select(F.col("id").alias("k"), F.lit("small").alias("v")),
        )
        c.commit_tx()
    store = LocalObjectStorage(store_dir)
    objs = {o.name: o.size for o in replay_log(store).live_objects("t")}
    assert len(objs) == 5
    big_name, big_size = max(objs.items(), key=lambda kv: kv[1])
    small_max = max(s for n, s in objs.items() if n != big_name)
    target = (small_max * 4) + 1  # all smalls fit one output, big exempt
    assert small_max < target <= big_size, (small_max, target, big_size)

    c.new_tx()
    want = sorted(
        (r["k"], r["v"])
        for r in c.scan("t", with_stamps=False).collect()
    )
    c.compact("t", target_bytes=target)
    c.commit_tx()
    after = {o.name: o.size for o in replay_log(store).live_objects("t")}
    assert big_name in after, "at-target file was rewritten"
    assert len(after) == 2, after  # big + one bin-packed output
    c.new_tx()
    got = sorted(
        (r["k"], r["v"])
        for r in c.scan("t", with_stamps=False).collect()
    )
    assert got == want
    # convergence: a second run finds nothing under target to rewrite
    v_before = replay_log(store).version
    c.compact("t", target_bytes=target)
    c.commit_tx()
    assert replay_log(store).version == v_before  # read-only commit


def test_optimize_target_size_sql_form(spark, store_dir):
    """OPTIMIZE t TARGET SIZE n parses and executes the size-aware
    path end-to-end through the SQL surface."""
    from delta_lake_experiment_spark.plans.dml import Optimize, parse_dml
    from delta_lake_experiment_spark.plans.snapshot import replay_log
    from delta_lake_experiment_spark.storage.objectstore import (
        LocalObjectStorage,
    )

    assert parse_dml("OPTIMIZE t TARGET SIZE 1048576") == Optimize(
        table="t", target_files=1, cluster_by=None, zorder_by=None,
        target_bytes=1048576,
    )
    c = DeltaLakeClient(spark, store_dir)
    c.new_tx()
    c.create_table("t", "k BIGINT, v STRING")
    c.commit_tx()
    for i in range(3):
        c.new_tx()
        c.write_dataframe(
            "t",
            spark.range(i * 10, (i + 1) * 10).coalesce(1).select(
                F.col("id").alias("k"), F.lit("x").alias("v")
            ),
        )
        c.commit_tx()
    c.new_tx()
    c.execute("OPTIMIZE t TARGET SIZE 10485760")  # everything is small
    c.commit_tx()
    store = LocalObjectStorage(store_dir)
    objs = replay_log(store).live_objects("t")
    assert len(objs) == 1  # bin-packed into one output
    c.new_tx()
    assert sorted(
        r["k"] for r in c.scan("t", with_stamps=False).collect()
    ) == list(range(30))
    c.commit_tx()


def test_create_table_generated_sql_form(spark, store_dir):
    """CREATE TABLE ... GENERATED (col AS expr, ...) parses (top-level
    comma split respects quotes and parens) and executes the full
    generated-column path through the SQL surface."""
    from delta_lake_experiment_spark.plans.dml import CreateTable

    s = parse_dml(
        "CREATE TABLE t (k BIGINT, s STRING, g INT, h BIGINT)"
        " GENERATED (g AS CASE WHEN s = 'a,b(' THEN 1 ELSE 0 END,"
        " h AS k % 3)"
    )
    assert isinstance(s, CreateTable)
    assert s.generated == {
        "g": "CASE WHEN s = 'a,b(' THEN 1 ELSE 0 END",
        "h": "k % 3",
    }
    c = DeltaLakeClient(spark, store_dir)
    c.new_tx()
    c.execute(
        "CREATE TABLE ev (ts BIGINT, v DOUBLE, day BIGINT)"
        " GENERATED (day AS ts DIV 86400)"
    )
    c.commit_tx()
    c.new_tx()
    c.write_dataframe(
        "ev",
        spark.range(86395, 86405).select(
            F.col("id").alias("ts"), F.lit(1.0).alias("v")
        ),
    )
    c.commit_tx()
    c.new_tx()
    rows = {r["ts"]: r["day"] for r in c.scan("ev", with_stamps=False).collect()}
    assert rows == {ts: ts // 86400 for ts in range(86395, 86405)}
    d = c.execute("DESCRIBE DETAIL ev").collect()[0]
    assert d["generated_columns"] == {"day": "ts DIV 86400"}
    c.commit_tx()


def test_add_drop_constraint_sql(spark, store_dir):
    """ALTER TABLE ... ADD CONSTRAINT name CHECK (expr) / DROP
    CONSTRAINT name (Delta's verbs): ADD validates EXISTING rows in
    one scan, enforcement rides the create-time CHECK lane on every
    future write, DROP lifts it; redefinition and typo'd drops fail
    loudly."""
    from delta_lake_experiment_spark.errors import TypeMismatchError

    c = DeltaLakeClient(spark, store_dir)
    c.new_tx()
    c.execute("CREATE TABLE t (k BIGINT, v BIGINT)")
    c.execute("INSERT INTO t SELECT 1 AS k, 10 AS v")
    c.commit_tx()
    c.new_tx()
    # existing rows violate -> the declaration itself fails
    with pytest.raises(TypeMismatchError, match="existing row"):
        c.execute("ALTER TABLE t ADD CONSTRAINT v_big CHECK (v > 100)")
    c.execute("ALTER TABLE t ADD CONSTRAINT v_pos CHECK (v > 0)")
    c.commit_tx()
    # enforcement on future writes: in-plan raise
    c.new_tx()
    c.write_row("t", [2, -5])
    with pytest.raises(Exception, match="v_pos"):
        c.commit_tx()
    c.abort_tx()
    # redefinition refused; unknown drop refused
    c.new_tx()
    with pytest.raises(TypeMismatchError, match="already exists"):
        c.execute("ALTER TABLE t ADD CONSTRAINT v_pos CHECK (v >= 0)")
    with pytest.raises(TypeMismatchError, match="no CHECK constraint"):
        c.execute("ALTER TABLE t DROP CONSTRAINT ghost")
    c.execute("ALTER TABLE t DROP CONSTRAINT v_pos")
    c.write_row("t", [2, -5])  # constraint lifted: admits
    c.commit_tx()
    c.new_tx()
    assert c.scan("t", with_stamps=False).count() == 2
    c.abort_tx()


def test_create_table_clone_sql(spark, store_dir):
    """CREATE TABLE dst [SHALLOW] CLONE src routes to the zero-copy
    clone: same rows readable, no data objects duplicated, and a
    delete on the clone never touches the source."""
    c = DeltaLakeClient(spark, store_dir)
    c.new_tx()
    c.execute("CREATE TABLE src (k BIGINT, v BIGINT)")
    for i in range(4):
        c.write_row("src", [i, i * 10])
    c.commit_tx()
    n_objs = len(c.store.list_prefix_ordered("table_"))
    c.new_tx()
    c.execute("CREATE TABLE fork SHALLOW CLONE src")
    c.commit_tx()
    assert len(c.store.list_prefix_ordered("table_")) == n_objs  # zero copy
    c.new_tx()
    c.execute("DELETE FROM fork WHERE k BETWEEN 0 AND 1")
    c.commit_tx()
    c.new_tx()
    assert c.scan("fork", with_stamps=False).count() == 2
    assert c.scan("src", with_stamps=False).count() == 4
    c.abort_tx()


def test_restore_to_timestamp_sql(spark, store_dir):
    """RESTORE TABLE t TO TIMESTAMP 'ts' resolves the newest commit
    at-or-before the wall-clock (the TIMESTAMP AS OF resolution) and
    restores to it."""
    import datetime as _dt

    c = DeltaLakeClient(spark, store_dir)
    c.new_tx()
    c.execute("CREATE TABLE t (k BIGINT)")
    c.execute("INSERT INTO t SELECT 1 AS k")
    c.commit_tx()
    # wall-clock between the two commits
    ts = _dt.datetime.now(_dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%f")
    c.new_tx()
    c.execute("INSERT INTO t SELECT 2 AS k")
    c.commit_tx()
    c.new_tx()
    assert c.scan("t", with_stamps=False).count() == 2
    c.execute(f"RESTORE TABLE t TO TIMESTAMP '{ts}'")
    c.commit_tx()
    c.new_tx()
    assert [r.k for r in c.scan("t", with_stamps=False).collect()] == [1]
    c.abort_tx()


def test_point_delete_driver_path_costs_o_candidates(spark, store_dir, monkeypatch):
    """The driver-side point delete touches the store per CANDIDATE
    file, not per live object: on 300 one-row objects a delete of one
    key resolves object paths only for the stat-pruned candidate (once
    to plan, once to read it), never for the whole live set."""
    c = DeltaLakeClient(spark, store_dir, dataobject_size=1)
    c.new_tx()
    c.create_table("t", "k BIGINT, v BIGINT")
    for k in range(300):
        c.write_row("t", [k, k])
    c.commit_tx()

    calls = []
    path_of = c.store.path_of
    monkeypatch.setattr(
        c.store, "path_of", lambda name: calls.append(name) or path_of(name)
    )
    c.new_tx()
    c.delete_rows("t", "k", 150, 150)
    candidates = c.tx.read_files["t"]
    rewrites = [a for a in c.tx.actions if isinstance(a, RemoveDataObject)]
    assert len(candidates) == len(rewrites) == 1
    assert len(calls) <= len(candidates) + len(rewrites)
    c.commit_tx()

    c.new_tx()
    assert c.table_row_count("t") == 299
    c.commit_tx()
