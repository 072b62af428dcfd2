"""GENERATED columns (Delta's GENERATED ALWAYS AS, declared at CREATE):
computed when the writer omits them, validated by the implicit CHECK
when supplied, recomputed on UPDATE, materialized so stats pruning on
the generated column prunes files like any stored column."""

import glob
import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from delta_lake_experiment_spark.client import DeltaLakeClient
from delta_lake_experiment_spark.errors import TypeMismatchError
from delta_lake_experiment_spark.plans.snapshot import replay_log
from delta_lake_experiment_spark.storage.objectstore import LocalObjectStorage


def _mk(spark, root):
    c = DeltaLakeClient(spark, root)
    c.new_tx()
    c.create_table(
        "t",
        "k BIGINT, amount DOUBLE, bucket3 BIGINT",
        generated={"bucket3": "k % 3"},
    )
    c.commit_tx()
    return c


def test_omitted_column_computes(spark, tmp_path):
    c = _mk(spark, str(tmp_path))
    c.new_tx()
    c.write_dataframe(
        "t",
        spark.range(0, 10).select(
            F.col("id").alias("k"), (F.col("id") * 1.5).alias("amount")
        ),
    )
    c.commit_tx()
    c.new_tx()
    rows = {r["k"]: r["bucket3"] for r in c.scan("t", with_stamps=False).collect()}
    assert rows == {k: k % 3 for k in range(10)}
    c.commit_tx()


def test_supplied_wrong_value_raises(spark, tmp_path):
    c = _mk(spark, str(tmp_path))
    c.new_tx()
    good = spark.range(0, 5).select(
        F.col("id").alias("k"),
        F.lit(1.0).alias("amount"),
        (F.col("id") % 3).alias("bucket3"),
    )
    c.write_dataframe("t", good)  # correct supplied values pass
    bad = spark.range(5, 8).select(
        F.col("id").alias("k"),
        F.lit(1.0).alias("amount"),
        F.lit(99).alias("bucket3"),
    )
    with pytest.raises(Exception, match="bucket3_generated|CHECK|check"):
        c.write_dataframe("t", bad)
    # the failed staged write leaves no staging debris behind
    assert not glob.glob(os.path.join(str(tmp_path), ".tmp", "staging_*"))
    c.abort_tx()


def test_buffered_rows_none_computes_and_wrong_raises(spark, tmp_path):
    c = _mk(spark, str(tmp_path))
    c.new_tx()
    c.write_row("t", [7, 1.0, None])  # None = not supplied -> computed
    c.write_row("t", [8, 1.0, 2])  # correct value passes the CHECK
    c.commit_tx()
    c.new_tx()
    rows = {r["k"]: r["bucket3"] for r in c.scan("t", with_stamps=False).collect()}
    assert rows == {7: 1, 8: 2}
    c.write_row("t", [9, 1.0, 1])  # wrong: 9 % 3 == 0
    with pytest.raises(Exception, match="bucket3_generated|CHECK|check"):
        c.flush_buffer("t")
    assert not glob.glob(os.path.join(str(tmp_path), ".tmp", "staging_*"))
    c.abort_tx()


def test_update_recomputes_generated(spark, tmp_path):
    c = _mk(spark, str(tmp_path))
    c.new_tx()
    c.write_dataframe(
        "t",
        spark.range(0, 6).select(
            F.col("id").alias("k"), F.lit(1.0).alias("amount")
        ),
    )
    c.commit_tx()
    c.new_tx()
    # SET k=11 on k in [1,1]: bucket3 must recompute to 11 % 3 == 2
    # (deliberately != the stale 1 % 3 == 1, so a skipped recompute is
    # VISIBLE — and the SET moves the predicate column out of the
    # range, so the recompute mask must come from the pre-SET frame;
    # both were review catches)
    c.update_rows("t", "k", 1, 1, {"k": 11})
    c.commit_tx()
    c.new_tx()
    rows = {r["k"]: r["bucket3"] for r in c.scan("t", with_stamps=False).collect()}
    assert rows[11] == 2
    assert all(rows[k] == k % 3 for k in rows)
    # buffered-row update: the generated cell recomputes at flush
    c.write_row("t", [20, 1.0, None])
    c.update_rows("t", "k", 20, 20, {"k": 22})
    c.commit_tx()
    c.new_tx()
    rows = {r["k"]: r["bucket3"] for r in c.scan("t", with_stamps=False).collect()}
    assert rows[22] == 1
    c.commit_tx()


def test_cow_rewrite_preserves_generated(spark, tmp_path):
    c = _mk(spark, str(tmp_path))
    c.new_tx()
    c.write_dataframe(
        "t",
        spark.range(0, 10).select(
            F.col("id").alias("k"), F.lit(1.0).alias("amount")
        ),
    )
    c.commit_tx()
    c.new_tx()
    c.delete_rows("t", "k", 0, 2)  # COW rewrite revalidates the CHECK
    c.commit_tx()
    c.new_tx()
    rows = {r["k"]: r["bucket3"] for r in c.scan("t", with_stamps=False).collect()}
    assert rows == {k: k % 3 for k in range(3, 10)}
    c.commit_tx()


def test_stats_prune_on_generated_column(spark, tmp_path):
    """The generated value is MATERIALIZED, so its per-file [min,max]
    stats prune the file list — the partition-style-pruning payoff
    Delta gets from generated partition columns."""
    root = str(tmp_path)
    c = DeltaLakeClient(spark, root)
    c.new_tx()
    c.create_table(
        "ev", "ts BIGINT, v DOUBLE, day BIGINT", generated={"day": "ts DIV 86400"}
    )
    c.commit_tx()
    for d in (0, 1, 2):  # one commit (= one file set) per day
        c.new_tx()
        c.write_dataframe(
            "ev",
            spark.range(d * 86400, d * 86400 + 100).coalesce(1).select(
                F.col("id").alias("ts"), F.lit(1.0).alias("v")
            ),
        )
        c.commit_tx()
    store = LocalObjectStorage(root)
    snap = replay_log(store)
    all_files = snap.live_files("ev", store)
    day1 = snap.live_files("ev", store, prune={"day": (1, 1)})
    assert len(all_files) == 3
    assert len(day1) == 1, "generated-column stats did not prune"


def test_clone_and_checkpoint_carry_declaration(spark, tmp_path):
    root = str(tmp_path)
    c = DeltaLakeClient(spark, root, checkpoint_interval=2)
    c.new_tx()
    c.create_table(
        "t", "k BIGINT, amount DOUBLE, bucket3 BIGINT",
        generated={"bucket3": "k % 3"},
    )
    c.commit_tx()
    c.new_tx()
    c.write_row("t", [1, 1.0, None])
    c.commit_tx()  # v2: checkpoint written (interval 2)
    c.new_tx()
    c.clone_table("t", "t2")
    c.commit_tx()
    c2 = DeltaLakeClient(spark, root)  # fresh replay (checkpoint path)
    c2.new_tx()
    assert c2.tx.snapshot.generated.get("t") == {"bucket3": "k % 3"}
    assert c2.tx.snapshot.generated.get("t2") == {"bucket3": "k % 3"}
    # the clone computes omitted values like the original
    c2.write_dataframe(
        "t2",
        spark.createDataFrame([(5, 2.0)], "k BIGINT, amount DOUBLE"),
    )
    c2.commit_tx()
    c2.new_tx()
    rows = {r["k"]: r["bucket3"] for r in c2.scan("t2", with_stamps=False).collect()}
    assert rows == {1: 1, 5: 2}
    c2.commit_tx()


def test_invalid_declarations_raise(spark, tmp_path):
    c = DeltaLakeClient(spark, str(tmp_path))
    c.new_tx()
    with pytest.raises(TypeMismatchError, match="not in schema"):
        c.create_table("a", "k BIGINT", generated={"nope": "k % 3"})
    with pytest.raises(TypeMismatchError, match="failed to analyze"):
        # self-reference: the expression may not see the generated col
        c.create_table(
            "b", "k BIGINT, g BIGINT", generated={"g": "g + 1"}
        )
    with pytest.raises(TypeMismatchError, match="failed to analyze"):
        # generated-from-generated chains are rejected
        c.create_table(
            "c", "k BIGINT, g1 BIGINT, g2 BIGINT",
            generated={"g1": "k % 3", "g2": "g1 + 1"},
        )
    c.abort_tx()


def test_merge_schema_computes_omitted_generated(spark, tmp_path):
    """merge_schema=True must not NULL-fill an omitted generated
    column (a NULL would read as a supplied wrong value and fail the
    implicit CHECK) — the fill computes it (review catch, r10)."""
    c = _mk(spark, str(tmp_path))
    c.new_tx()
    c.write_dataframe(
        "t",
        spark.range(0, 5).select(
            F.col("id").alias("k"),
            F.lit(1.0).alias("amount"),
            F.lit("x").alias("note"),  # new column: schema evolves
        ),
        merge_schema=True,
    )
    c.commit_tx()
    c.new_tx()
    rows = {r["k"]: r["bucket3"] for r in c.scan("t", with_stamps=False).collect()}
    assert rows == {k: k % 3 for k in range(5)}
    c.commit_tx()


def test_nondeterministic_declaration_rejected(spark, tmp_path):
    """rand()/uuid()/current_* generation expressions are rejected at
    declaration: the fill and the CHECK evaluate the expression
    independently, so every omitted-column write would fail forever
    (review catch, r10; Delta rejects these at declaration too)."""
    c = DeltaLakeClient(spark, str(tmp_path))
    c.new_tx()
    for bad in ("rand()", "uuid()", "current_date", "now()"):
        with pytest.raises(TypeMismatchError, match="deterministic"):
            c.create_table(
                f"t_{abs(hash(bad)) % 1000}",
                "k BIGINT, g STRING",
                generated={"g": f"CAST({bad} AS STRING)"},
            )
    c.abort_tx()


def test_describe_detail_reports_generated_and_log_sizes(spark, tmp_path):
    """DESCRIBE DETAIL surfaces the generated-column declarations and
    derives size_bytes from the log's per-object size stat (zero store
    round-trips for post-r10 objects)."""
    c = _mk(spark, str(tmp_path))
    c.new_tx()
    c.write_dataframe(
        "t",
        spark.range(0, 20).select(
            F.col("id").alias("k"), F.lit(1.0).alias("amount")
        ),
    )
    c.commit_tx()
    d = c.describe_detail("t").collect()[0]
    assert d["generated_columns"] == {"bucket3": "k % 3"}
    store = LocalObjectStorage(str(tmp_path))
    want = sum(o.size for o in replay_log(store).live_objects("t"))
    assert want > 0 and d["size_bytes"] == want


def test_generated_table_streams_source_and_sink(spark, tmp_path):
    """Composition: a generated-column table STREAMS through the
    engine source (values are materialized, so the stream emits them
    like any stored column), and the exactly-once engine SINK into a
    generated destination COMPUTES the omitted column per batch (the
    foreachBatch write rides write_dataframe's fill)."""
    from delta_lake_experiment_spark.streaming.engine_sink import (
        foreach_batch_writer,
    )
    from delta_lake_experiment_spark.streaming.engine_source import (
        read_table_stream,
    )

    src_root = str(tmp_path / "src")
    dst_root = str(tmp_path / "dst")
    src = DeltaLakeClient(spark, src_root)
    src.new_tx()
    src.create_table(
        "s", "k BIGINT, b3 BIGINT", generated={"b3": "k % 3"}
    )
    src.commit_tx()
    src.new_tx()
    src.write_dataframe(
        "s", spark.range(0, 12).select(F.col("id").alias("k"))
    )
    src.commit_tx()
    dst = DeltaLakeClient(spark, dst_root)
    dst.new_tx()
    dst.create_table(
        "d", "k BIGINT, b3 BIGINT, b5 BIGINT", generated={"b5": "k % 5"}
    )
    dst.commit_tx()

    def dst_factory():
        return DeltaLakeClient(spark, dst_root)

    q = (
        read_table_stream(spark, src_root, "s")
        .writeStream.foreachBatch(
            # the source emits (k, b3); the destination's b5 is OMITTED
            # by the stream -> computed at the sink's write
            foreach_batch_writer(dst_factory, "d", "gen_app")
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = dst_factory()
    out.new_tx()
    rows = {
        r["k"]: (r["b3"], r["b5"])
        for r in out.scan("d", with_stamps=False).collect()
    }
    assert rows == {k: (k % 3, k % 5) for k in range(12)}
    out.commit_tx()
