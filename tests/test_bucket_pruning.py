"""Bucket-aware file pruning (VERDICT r7 item 6).

A bucketed table labels every data object with pmod(murmur3(key), n);
an equality predicate on the bucket columns can therefore skip every
file outside the key's bucket — an exact O(live/n) cut no min/max stat
or bloom filter can match. The cut is computed DRIVER-side by a pure-
Python reimplementation of Spark's Murmur3Hash (plans/bucketing.py),
so the one failure mode that matters — a silent hash divergence that
would prune the WRONG files — is pinned here against the JVM itself:
``F.hash`` for every supported type, and the ``repartition`` partition
index (the function the write path actually uses for labeling).
"""

import datetime
import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from delta_lake_experiment_spark.client import DeltaLakeClient
from delta_lake_experiment_spark.plans.bucketing import (
    bucket_id_for,
    spark_hash,
)

_TYPES = {
    "bigint": T.LongType(),
    "int": T.IntegerType(),
    "smallint": T.ShortType(),
    "tinyint": T.ByteType(),
    "string": T.StringType(),
    "double": T.DoubleType(),
    "float": T.FloatType(),
    "boolean": T.BooleanType(),
    "date": T.DateType(),
    "timestamp": T.TimestampType(),
    "binary": T.BinaryType(),
}


def _rand_value(rnd, t):
    if rnd.random() < 0.08:
        return None
    if t == "bigint":
        return rnd.randint(-(2**62), 2**62)
    if t == "int":
        return rnd.randint(-(2**31), 2**31 - 1)
    if t == "smallint":
        return rnd.randint(-(2**15), 2**15 - 1)
    if t == "tinyint":
        return rnd.randint(-128, 127)
    if t == "string":
        return "".join(
            rnd.choice("abcdefé漢字🙂 xyz0123") for _ in range(rnd.randint(0, 12))
        )
    if t == "double":
        return rnd.choice([0.0, -0.0, 1.5, -273.15, 1e300, rnd.random() * 1e6])
    if t == "float":
        return rnd.choice([0.0, -0.0, 1.5, -2.25, 1024.0])
    if t == "boolean":
        return rnd.random() < 0.5
    if t == "date":
        return datetime.date(1970, 1, 1) + datetime.timedelta(
            days=rnd.randint(-20000, 20000)
        )
    if t == "timestamp":
        return datetime.datetime(2020, 1, 1) + datetime.timedelta(
            seconds=rnd.randint(0, 10**8), microseconds=rnd.randint(0, 999999)
        )
    if t == "binary":
        return bytes(rnd.randint(0, 255) for _ in range(rnd.randint(0, 9)))
    raise AssertionError(t)


@pytest.mark.slow
def test_python_murmur3_matches_jvm_hash(spark):
    """Random tuples across all 11 supported types (unicode strings,
    ±0.0, NULLs, signed-byte string tails) and fixed multi-column
    signatures: the pure-Python hash equals F.hash bit-for-bit.
    BATCHED per type-signature — one Spark job per signature (17
    total), not one per case (a per-case loop measured 47 s)."""
    rnd = random.Random(1234)
    signatures = [[t] for t in _TYPES] + [
        ["string", "bigint"],
        ["int", "string", "double"],
        ["date", "timestamp"],
        ["binary", "boolean", "tinyint"],
        ["double", "float", "smallint", "string"],
        ["bigint", "bigint"],
    ]
    for types in signatures:
        rows = [
            tuple(_rand_value(rnd, t) for t in types) for _ in range(40)
        ]
        schema = T.StructType(
            [
                T.StructField(f"c{i}", _TYPES[t], True)
                for i, t in enumerate(types)
            ]
        )
        df = spark.createDataFrame(rows, schema)
        jvm = [
            r["h"]
            for r in df.select(F.hash(*df.columns).alias("h")).collect()
        ]
        for vals, expect in zip(rows, jvm):
            assert spark_hash(list(vals), types) == expect, (vals, types)


def test_bucket_id_matches_repartition_index(spark):
    """bucket_id_for == the repartition(n, cols) partition index — the
    exact function the write path labels objects with."""
    rows = [(i, f"k{i % 97}") for i in range(500)]
    df = spark.createDataFrame(rows, "id long, k string")
    for n in (4, 16):
        got = (
            df.repartition(n, "k")
            .withColumn("pid", F.spark_partition_id())
            .select("k", "pid")
            .distinct()
            .collect()
        )
        for r in got:
            assert bucket_id_for([r["k"]], ["string"], n) == r["pid"], r
    # multi-column buckets fold in column order
    got = (
        df.repartition(8, "k", "id")
        .withColumn("pid", F.spark_partition_id())
        .collect()
    )
    for r in got[:50]:
        assert bucket_id_for([r["k"], r["id"]], ["string", "bigint"], 8) == r["pid"]


def test_unsupported_type_skips_pruning():
    assert bucket_id_for([[1.0, 2.0]], ["array<double>"], 8) is None
    assert spark_hash([object()], ["struct<a:int>"]) is None


def test_point_lookup_prunes_to_one_bucket(spark, store_dir):
    """Point lookup over a bucketed table reads ~1/n of the live
    files — exactly the objects labeled with the key's bucket — and
    values equal the unpruned scan. Stored-type contract: the table
    is BIGINT-bucketed and the lookup value is a Python int; the
    driver hash runs on the stored type, like the write path."""
    c = DeltaLakeClient(spark, store_dir, dataobject_size=25)
    c.new_tx()
    c.create_table("t", "k bigint, v string", bucket_by=(["k"], 8))
    rows = [(i % 40, f"v{i}") for i in range(400)]
    c.write_dataframe(
        "t", spark.createDataFrame(rows, "k long, v string").repartition(4)
    )
    c.commit_tx()
    c.new_tx()
    snap = c._effective_snapshot(c.tx)
    objs = snap.live_objects("t")
    assert len(objs) >= 8 and all(o.bucket_id is not None for o in objs)
    key = 7
    expected_bucket = bucket_id_for([key], ["bigint"], 8)
    in_bucket = [o for o in objs if int(o.bucket_id) == expected_bucket]
    pruned = snap.live_files(
        "t",
        c.store,
        prune={"k": (key, key)},
        keep_buckets=c._bucket_prune_ids("t", snap, {"k": (key, key)}),
    )
    # bucket pruning admits ONLY the key's bucket (stats/blooms may
    # prune further within it)
    assert 0 < len(pruned) <= len(in_bucket) < len(objs)
    got = sorted(
        r["v"]
        for r in c.scan("t", prune={"k": (key, key)}, with_stamps=False)
        .filter(F.col("k") == key)
        .collect()
    )
    exp = sorted(v for k, v in rows if k == key)
    assert got == exp
    # a RANGE prune (lo != hi) does not engage bucket pruning
    assert c._bucket_prune_ids("t", snap, {"k": (1, 2)}) is None
    # unbucketed tables: never engages
    c.create_table("plain", "k bigint")
    assert c._bucket_prune_ids("plain", snap, {"k": (1, 1)}) is None
    c.abort_tx()


def test_point_delete_uses_bucket_pruning_and_stays_correct(
    spark, store_dir, monkeypatch
):
    """delete_rows with a point range on the bucket column composes the
    bucket cut with the COW rewrite: only the key's rows disappear,
    everything else survives — across buckets and after replay. The
    driver-side pyarrow rewrite and the distributed Spark rewrite
    (forced by a zero row threshold) agree on the result, the recorded
    read set (the range scope + EVERY stats/bucket candidate) and the
    objects they remove."""
    import delta_lake_experiment_spark.client as client_mod
    from delta_lake_experiment_spark.plans.actions import RemoveDataObject

    c = DeltaLakeClient(spark, store_dir, dataobject_size=25)
    c.new_tx()
    c.create_table("t", "k bigint, v string", bucket_by=(["k"], 8))
    rows = [(i % 40, f"v{i}") for i in range(400)]
    c.write_dataframe(
        "t", spark.createDataFrame(rows, "k long, v string").repartition(4)
    )
    # a second file in key 7's bucket whose [min, max] admits 7 but
    # holds no 7: a candidate both paths must read but not rewrite
    bid = bucket_id_for([7], ["bigint"], 8)
    lo = max(k for k in range(-100, 7) if bucket_id_for([k], ["bigint"], 8) == bid)
    hi = min(k for k in range(8, 100) if bucket_id_for([k], ["bigint"], 8) == bid)
    bracket = [(lo, "lo"), (hi, "hi")]
    c.write_dataframe("t", spark.createDataFrame(bracket, "k long, v string"))
    rows += bracket
    c.commit_tx()
    seen = []
    for max_rows in (client_mod._DRIVER_DELETE_MAX_ROWS, 0):
        monkeypatch.setattr(client_mod, "_DRIVER_DELETE_MAX_ROWS", max_rows)
        c.new_tx()
        snap = c._effective_snapshot(c.tx)
        candidates = snap.live_files(
            "t", c.store, prune={"k": (7, 7)}, keep_buckets={bid}
        )
        holding_7 = {
            n.rsplit("/", 1)[-1]
            for n in candidates
            if 7 in c._read_store_parquet(n.rsplit("/", 1)[-1])["k"].to_pylist()
        }
        assert len(candidates) == 2 and len(holding_7) == 1
        c.delete_rows("t", "k", 7, 7)
        assert c.tx.read_scopes == {
            "t": [{"bounds": {"k": (7, 7)}, "buckets": {bid}}]
        }
        assert c.tx.read_files == {"t": set(candidates)}
        removed = {
            a.name for a in c.tx.actions if isinstance(a, RemoveDataObject)
        }
        assert removed == holding_7
        got = sorted(
            (r["k"], r["v"]) for r in c.scan("t", with_stamps=False).collect()
        )
        seen.append((got, removed))
        if max_rows:
            c.abort_tx()  # the distributed run deletes the same rows
    assert seen[0] == seen[1]
    c.commit_tx()
    c2 = DeltaLakeClient(spark, store_dir)
    c2.new_tx()
    got = sorted(
        (r["k"], r["v"])
        for r in c2.scan("t", with_stamps=False).collect()
    )
    exp = sorted((k, v) for k, v in rows if k != 7)
    assert got == exp
    c2.abort_tx()


def test_bucketed_scan_of_clone_honors_shared_dv_masks(spark, store_dir):
    """r13 review repro (pre-existing wrong answer): scan_bucketed
    rebuilt the DV anti-join key as table_<CURRENT>_<hex>, but a
    clone's live objects keep the SOURCE's name prefix — the key
    matched nothing and every DV-deleted row RESURRECTED in the
    clone's bucketed scan. The join now keys on the object's globally
    unique hex id extracted from both sides."""
    c = DeltaLakeClient(spark, store_dir, dataobject_size=4)
    c.new_tx()
    c.create_table("src", "k BIGINT, v BIGINT", bucket_by=(["k"], 4))
    for i in range(12):
        c.write_row("src", [i, i * 10])
    c.commit_tx()
    c.new_tx()
    c.delete_rows("src", "k", 3, 7, use_dv=True)
    c.commit_tx()
    c.new_tx()
    c.clone_table("src", "dst")
    c.commit_tx()
    c.new_tx()
    want = sorted(r.k for r in c.scan("dst", with_stamps=False).collect())
    assert want == [0, 1, 2, 8, 9, 10, 11]
    got = sorted(
        r.k for r in c.scan_bucketed("dst", with_stamps=False).collect()
    )
    assert got == want  # masks honored through the shared objects
    # the source's own bucketed scan stays correct too
    got_src = sorted(
        r.k for r in c.scan_bucketed("src", with_stamps=False).collect()
    )
    assert got_src == want
    c.abort_tx()


def test_bucketed_scan_after_restore_honors_dv_masks(spark, store_dir):
    """Feature-composition gate (r13 probe battery): RESTORE back to a
    DV-masked version of a bucketed table — the re-attached masks must
    be honored by the bucketed scan (the restore's remove+re-add
    resets, then the mask re-adds, compose with the hex-key join)."""
    from delta_lake_experiment_spark.client import DeltaLakeClient

    c = DeltaLakeClient(spark, store_dir, dataobject_size=4)
    c.new_tx()
    c.create_table("t", "k BIGINT, v BIGINT", bucket_by=(["k"], 4))
    for i in range(12):
        c.write_row("t", [i, i])
    c.commit_tx()  # v1
    c.new_tx()
    c.delete_rows("t", "k", 3, 7, use_dv=True)
    c.commit_tx()  # v2
    c.new_tx()
    c.delete_rows("t", "k", 0, 1)
    c.commit_tx()  # v3: COW past the DV state
    c.new_tx()
    c.restore_table("t", 2)
    c.commit_tx()
    c.new_tx()
    want = [0, 1, 2, 8, 9, 10, 11]
    assert sorted(
        r.k for r in c.scan("t", with_stamps=False).collect()
    ) == want
    assert sorted(
        r.k for r in c.scan_bucketed("t", with_stamps=False).collect()
    ) == want
    c.abort_tx()
