"""Deletion vectors read the same through every reader.

plans/dv.py owns the DV payload: the ``(obj, row_idx)`` columns, the
Spark mask join and the pyarrow masked read. These tests build one
masked state and check every reader against a dict model, and pin the
boundary so the payload's column names stay in that one module."""

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from delta_lake_experiment_spark.client import DeltaLakeClient
from delta_lake_experiment_spark.plans.snapshot import log_versions
from delta_lake_experiment_spark.streaming.engine_source import read_table_stream

PACKAGE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "delta_lake_experiment_spark",
)


def _rows(df):
    return sorted((r["k"], r["v"]) for r in df.collect())


def _stream(spark, root, table, ck, **kwargs):
    rows = []

    def collect(batch_df, _bid):
        rows.extend(r.asDict() for r in batch_df.collect())

    q = (
        read_table_stream(spark, root, table, **kwargs)
        .writeStream.foreachBatch(collect)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return rows


def test_dv_masks_read_the_same_through_every_reader(spark, tmp_path, monkeypatch):
    """One DV object masks rows of two objects; a shallow clone shares
    the objects and the mask, a bucketed twin holds the same rows. The
    batch scan, the bucketed scan, the stream source's snapshot and a
    driver-side COW rewrite of a masked object all match a dict model,
    and the batch and streaming change feeds emit the same delete rows
    for each DV commit."""
    root = str(tmp_path / "store")
    os.makedirs(root)
    c = DeltaLakeClient(spark, root, dataobject_size=5)
    model = {k: f"v{k}" for k in range(20)}
    c.new_tx()
    c.create_table("t", "k BIGINT, v STRING")
    c.create_table("b", "k BIGINT, v STRING", bucket_by=(["k"], 4))
    for k, v in model.items():
        c.write_row("t", [k, v])
    c.write_dataframe(
        "b", spark.createDataFrame(sorted(model.items()), "k BIGINT, v STRING")
    )
    c.commit_tx()

    dv_versions = []
    for lo, hi in ((3, 6), (12, 12)):
        c.new_tx()
        c.delete_rows("t", "k", lo, hi, use_dv=True)
        c.delete_rows("b", "k", lo, hi, use_dv=True)
        c.commit_tx()
        dv_versions.append(log_versions(c.store)[-1])
        for k in range(lo, hi + 1):
            del model[k]
    c.new_tx()
    c.clone_table("t", "tc")
    c.clone_table("b", "bc")
    c.commit_tx()

    c.new_tx()
    snap = c._effective_snapshot(c.tx)
    for table in ("t", "b"):
        masked_by = {}
        for obj, dvs in snap.table_dvs(table).items():
            for name in dvs:
                masked_by.setdefault(name, set()).add(obj)
        # the first delete's one DV object masks rows of two objects
        assert max(len(objs) for objs in masked_by.values()) >= 2, masked_by
    want = sorted(model.items())
    for table in ("t", "tc", "b", "bc"):
        assert _rows(c.scan(table, with_stamps=False)) == want, table
    for table in ("b", "bc"):
        assert _rows(c.scan_bucketed(table, with_stamps=False)) == want, table
    c.abort_tx()

    for table in ("t", "tc"):
        got = _stream(spark, root, table, str(tmp_path / f"ck_{table}"))
        assert sorted((r["k"], r["v"]) for r in got) == want, table

    # batch change feed == streaming change feed for each DV commit
    cdf = _stream(
        spark, root, "t", str(tmp_path / "ck_cdf"), read_change_feed=True
    )
    c.new_tx()
    for v in dv_versions:
        batch = c.scan_changes("t", v - 1, v)
        assert {r["_change_type"] for r in batch.collect()} == {"delete"}
        streamed = sorted(
            (r["k"], r["v"])
            for r in cdf
            if r["_commit_version"] == v and r["_change_type"] == "delete"
        )
        assert streamed == _rows(batch), v
        assert len(streamed) == (4 if v == dv_versions[0] else 1)
    c.abort_tx()

    # the driver-side COW delete of a masked object keeps its mask
    driver_calls = []
    real = DeltaLakeClient._delete_rows_driver

    def _spy(self, *a, **k):
        driver_calls.append(a[1])
        return real(self, *a, **k)

    monkeypatch.setattr(DeltaLakeClient, "_delete_rows_driver", _spy)
    c.new_tx()
    c.delete_rows("t", "k", 2, 2)  # its object also holds masked 3, 4
    c.commit_tx()
    assert driver_calls == ["t"]
    del model[2]
    c.new_tx()
    assert _rows(c.scan("t", with_stamps=False)) == sorted(model.items())
    # the clone still reads through the shared objects and their mask
    assert _rows(c.scan("tc", with_stamps=False)) == want
    c.abort_tx()


def test_dv_payload_columns_live_in_one_module():
    """Only plans/dv.py names the DV payload's columns: any other
    module that decodes a DV object is a second copy of the format."""
    literal = re.compile(r"""["'](obj|row_idx)["']""")
    owner = os.path.join(PACKAGE, "plans", "dv.py")
    offenders = []
    for dirpath, _, files in os.walk(PACKAGE):
        for name in files:
            path = os.path.join(dirpath, name)
            if not name.endswith(".py") or path == owner:
                continue
            with open(path) as f:
                for i, line in enumerate(f, 1):
                    if literal.search(line):
                        offenders.append(f"{os.path.relpath(path, PACKAGE)}:{i}")
    assert offenders == [], offenders
