"""``bulk_scan_dml``: Spark-executed scans and DML on a TPC-H-shaped
``lineitem`` (sf0.1: 150,000 orders, ~600,000 lines) and a keyed
``orders`` table, generated from the seed.

Set-up ingests ``lineitem`` in six appends split by order-key range (so
files carry disjoint key stats) and ``orders`` in one. The measured loop
then runs the 16-op sequence ``CYCLE`` over and over, built from:

    append  - a fresh order-key range of ~20,000 lines (``write_dataframe``)
    read    - pruned range scan + aggregation inside one ingested base
              range, or full-scan aggregation
    delete  - COW or DV range delete of a fresh key range inside the
              newest appended range (COW twice as often as DV)
    merge   - MERGE upsert of 10 % of ``orders`` (half matched keys)
    compact - OPTIMIZE ... WHERE over the last DV-deleted range

Each delete lands in an untouched half of the newest appended range and
each range scan in a base range no op rewrites, so every op of one kind
does the same amount of work whatever the seed.

Every read and merge result is checked against a pyarrow recount of the
generated source under the same predicates, minus the deleted ranges.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from delta_lake_experiment_spark.client import DeltaLakeClient
from harness import Recorder

LINEITEM = "lineitem"
ORDERS = "orders"
LINEITEM_DDL = (
    "l_orderkey BIGINT, l_linenumber INT, l_partkey BIGINT, l_quantity BIGINT,"
    " l_extendedprice DOUBLE, l_discount DOUBLE, l_shipdate DATE, l_returnflag STRING"
)
ORDERS_DDL = "o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE, o_orderstatus STRING"
BASE_ORDERS = 150_000  # sf0.1
BASE_APPENDS = 6
# one seeded cycle of 16 ops; the work of a run is fixed by its length
# alone, so every run of one length has the same op mix. At most two
# deletes follow an append, each in its own half of the appended range,
# and a DV delete is the last one there (a COW delete never meets a DV).
CYCLE = (
    "append", "scan_range", "delete_cow", "scan_full",
    "append", "delete_cow", "delete_dv", "compact",
    "append", "scan_range", "delete_cow", "scan_full",
    "append", "delete_cow", "merge", "delete_dv",
)
MODEL_COLS = ("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag")


def gen_lineitem(seed: int, lo: int, hi: int) -> pa.Table:
    """Lines of orders ``[lo, hi)``: 1-7 lines per order."""
    rng = np.random.default_rng([seed, 1, lo])
    per_order = rng.integers(1, 8, hi - lo)
    n = int(per_order.sum())
    keys = np.repeat(np.arange(lo, hi, dtype=np.int64), per_order)
    first = np.repeat(np.cumsum(per_order) - per_order, per_order)
    qty = rng.integers(1, 51, n)
    days = rng.integers(0, 2500, n)
    return pa.table({
        "l_orderkey": keys,
        "l_linenumber": (np.arange(n) - first + 1).astype(np.int32),
        "l_partkey": rng.integers(1, 20_001, n),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 1100.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_shipdate": pa.array(
            (np.datetime64("1992-01-02") + days).astype("datetime64[D]")
        ),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
    })


def gen_orders(seed: int, keys: np.ndarray, stream: int) -> pa.Table:
    rng = np.random.default_rng([seed, 2, stream])
    n = len(keys)
    return pa.table({
        "o_orderkey": keys.astype(np.int64),
        "o_custkey": rng.integers(1, 15_001, n),
        "o_totalprice": np.round(rng.uniform(1_000.0, 500_000.0, n), 2),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n)]),
    })


class Inputs:
    """Seeded input files, generated on first use and shared by every
    store of the run."""

    def __init__(self, inputs_dir: str, seed: int, scale: float) -> None:
        self.dir = inputs_dir
        self.seed = seed
        self.base_orders = max(400, int(BASE_ORDERS * scale))
        self.append_orders = max(20, self.base_orders // 30)
        self.delete_span = max(2, self.base_orders // 500)
        self.scan_span = max(10, self.base_orders // 100)
        self.merge_rows = max(20, self.base_orders // 10)
        self._tables: dict[str, pa.Table] = {}

    def _file(self, name: str, make) -> tuple[str, pa.Table]:
        path = os.path.join(self.dir, f"{name}.parquet")
        if name not in self._tables:
            self._tables[name] = make()
            pq.write_table(self._tables[name], path)
        return path, self._tables[name]

    def base_lineitem(self, i: int):
        step = self.base_orders // BASE_APPENDS
        hi = self.base_orders if i == BASE_APPENDS - 1 else (i + 1) * step
        return self._file(f"lineitem_base{i}", lambda: gen_lineitem(self.seed, i * step, hi))

    def append_lineitem(self, i: int):
        lo = self.base_orders + i * self.append_orders
        return self._file(
            f"lineitem_append{i}",
            lambda: gen_lineitem(self.seed, lo, lo + self.append_orders),
        )

    def base_orders_file(self):
        return self._file(
            "orders_base",
            lambda: gen_orders(self.seed, np.arange(self.base_orders), 0),
        )

    def merge_batch(self, i: int):
        """Half the rows update base keys, half insert fresh keys."""
        def make():
            rng = np.random.default_rng([self.seed, 3, i])
            half = self.merge_rows // 2
            old = rng.choice(self.base_orders, half, replace=False)
            lo = self.base_orders + i * half
            keys = np.concatenate([old, np.arange(lo, lo + half)])
            return gen_orders(self.seed, keys, 1 + i)
        return self._file(f"orders_merge{i}", make)


@dataclass
class State:
    root: str
    client: DeltaLakeClient
    rng: random.Random
    model: pa.Table  # live lineitem rows, MODEL_COLS only
    orders_rows: int
    pos: int = 0
    appends: int = 0
    deletes_since_append: int = 0
    merges: int = 0
    dv_range: tuple[int, int] = (0, 0)
    max_key: int = 0


class BulkScanDml:
    name = "bulk_scan_dml"
    tail = 0.8
    cycle_steps = len(CYCLE)  # ops
    cycle_s = 6.5
    setup_reps = 3

    def __init__(self, spark, inputs_dir: str, seed: int, scale: float = 1.0):
        self.spark = spark
        self.seed = seed
        self.inputs = Inputs(inputs_dir, seed, scale)

    # -- set-up -----------------------------------------------------------

    def setup(self, root: str, rec) -> State:
        inp = self.inputs
        c = DeltaLakeClient(self.spark, root)
        c.new_tx()
        c.create_table(LINEITEM, LINEITEM_DDL)
        c.create_table(ORDERS, ORDERS_DDL, primary_keys=["o_orderkey"])
        c.commit_tx()
        parts = []
        for i in range(BASE_APPENDS):
            path, tbl = inp.base_lineitem(i)
            self._tx(c, lambda: c.write_dataframe(LINEITEM, self.spark.read.parquet(path)))
            parts.append(tbl.select(list(MODEL_COLS)))
        path, orders = inp.base_orders_file()
        self._tx(c, lambda: c.write_dataframe(ORDERS, self.spark.read.parquet(path)))
        st = State(
            root=root, client=c, rng=random.Random(self.seed),
            model=pa.concat_tables(parts), orders_rows=orders.num_rows,
            max_key=inp.base_orders,
        )
        # warm-up: one of each read shape (leaves the state unchanged)
        self._scan_range(st, rec, 0, inp.scan_span)
        self._scan_full(st, rec)
        return st

    @staticmethod
    def _tx(c: DeltaLakeClient, fn):
        c.new_tx()
        try:
            out = fn()
        except BaseException:
            c.abort_tx()
            raise
        c.commit_tx()
        return out

    # -- ops --------------------------------------------------------------

    def step(self, st: State, rec) -> None:
        kind = CYCLE[st.pos % len(CYCLE)]
        st.pos += 1
        inp = self.inputs
        c = st.client
        if kind == "append":
            path, tbl = inp.append_lineitem(st.appends)
            st.appends += 1
            st.deletes_since_append = 0
            df = self.spark.read.parquet(path)
            with rec.op("append", rows=tbl.num_rows):
                self._tx(c, lambda: c.write_dataframe(LINEITEM, df))
                st.model = pa.concat_tables([st.model, tbl.select(list(MODEL_COLS))])
                st.max_key += inp.append_orders
        elif kind == "scan_range":
            step = inp.base_orders // BASE_APPENDS
            lo = step * st.rng.randrange(BASE_APPENDS) + st.rng.randrange(step - inp.scan_span)
            self._scan_range(st, rec, lo, lo + inp.scan_span - 1)
        elif kind == "scan_full":
            self._scan_full(st, rec)
        elif kind in ("delete_cow", "delete_dv"):
            half = inp.append_orders // 2
            lo = (
                st.max_key - inp.append_orders + half * st.deletes_since_append
                + st.rng.randrange(half - inp.delete_span)
            )
            st.deletes_since_append += 1
            hi = lo + inp.delete_span - 1
            use_dv = kind == "delete_dv"
            # COW deletes are the default path and ``delete_p50_ms``; DV
            # deletes cost several times more and get their own kind
            with rec.op(kind if use_dv else "delete"):
                self._tx(c, lambda: c.delete_rows(LINEITEM, "l_orderkey", lo, hi, use_dv=use_dv))
                keys = st.model["l_orderkey"]
                st.model = st.model.filter(
                    pc.invert(pc.and_(pc.greater_equal(keys, lo), pc.less_equal(keys, hi)))
                )
            if use_dv:
                st.dv_range = (lo, hi)
        elif kind == "merge":
            path, tbl = inp.merge_batch(st.merges)
            st.merges += 1
            src = self.spark.read.parquet(path)
            with rec.op("merge", rows=tbl.num_rows):
                out = self._tx(c, lambda: c.merge(ORDERS, src))
                half = inp.merge_rows // 2
                rec.check(
                    out["updated"] == half and out["inserted"] == tbl.num_rows - half,
                    f"merge counts {out} != {half} updated",
                )
                st.orders_rows += tbl.num_rows
        else:
            lo, hi = st.dv_range
            with rec.op("compact"):
                self._tx(c, lambda: c.compact(LINEITEM, where=("l_orderkey", lo, hi)))

    def _scan_range(self, st: State, rec, lo: int, hi: int) -> None:
        c = st.client
        with rec.op("read"):
            c.new_tx()
            try:
                df = c.scan(LINEITEM, prune={"l_orderkey": (lo, hi)}, with_stamps=False)
                with rec.tracer.span("spark.action"):
                    row = (
                        df.filter(F.col("l_orderkey").between(lo, hi))
                        .agg(
                            F.count(F.lit(1)).alias("n"),
                            F.sum("l_quantity").alias("q"),
                            F.sum("l_extendedprice").alias("p"),
                        )
                        .collect()[0]
                    )
            finally:
                c.abort_tx()
            keys = st.model["l_orderkey"]
            want = st.model.filter(
                pc.and_(pc.greater_equal(keys, lo), pc.less_equal(keys, hi))
            )
            n = want.num_rows
            q = pc.sum(want["l_quantity"]).as_py() or 0
            p = pc.sum(want["l_extendedprice"]).as_py() or 0.0
            rec.check(
                row["n"] == n and (row["q"] or 0) == q
                and abs((row["p"] or 0.0) - p) <= 1e-6 * max(1.0, abs(p)),
                f"range scan [{lo}, {hi}]: ({row['n']}, {row['q']}) != ({n}, {q})",
            )

    def _scan_full(self, st: State, rec) -> None:
        c = st.client
        with rec.op("read"):
            c.new_tx()
            try:
                df = c.scan(LINEITEM, with_stamps=False)
                with rec.tracer.span("spark.action"):
                    rows = (
                        df.groupBy("l_returnflag")
                        .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("q"))
                        .collect()
                    )
            finally:
                c.abort_tx()
            got = {r["l_returnflag"]: (r["n"], r["q"]) for r in rows}
            agg = st.model.group_by("l_returnflag").aggregate(
                [("l_returnflag", "count"), ("l_quantity", "sum")]
            )
            want = {
                f: (n, q)
                for f, n, q in zip(
                    agg["l_returnflag"].to_pylist(),
                    agg["l_returnflag_count"].to_pylist(),
                    agg["l_quantity_sum"].to_pylist(),
                )
            }
            rec.check(got == want, f"full scan {got} != {want}")

    # -- final check ------------------------------------------------------

    def verify(self, st: State, rec) -> None:
        unmeasured = Recorder()  # the final check is not a measured op
        self._scan_full(st, unmeasured)
        rec.failed += unmeasured.failed
        c = st.client
        c.new_tx()
        n = c.table_row_count(ORDERS)
        c.abort_tx()
        rec.check(n == st.orders_rows, f"orders rows {n} != {st.orders_rows}")

    def roots(self, st: State) -> list[str]:
        return [st.root]
