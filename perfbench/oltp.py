"""``oltp_commits``: one client, a seeded mix of small transactions on a
keyed ``k BIGINT, v BIGINT`` table (``dataobject_size=10``, 1,000
keys). Each op is its own ``new_tx``/``commit_tx``:

- append: ``write_row`` of one ``(k, v)`` row;
- point delete: ``delete_rows(k, k)`` (the driver-side pyarrow path);
- metadata read: ``table_row_count``, checked against the model.

The model is the reference randomized test's: a dict from key to the
values of its live rows. Spark runs no jobs on this path, and the log
grows by one version per mutating op, so replay cost that grows with
log length shows in the latency.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

from delta_lake_experiment_spark.client import DeltaLakeClient

TABLE = "kv"
NUM_KEYS = 1000
MIX = (("append", 0.5), ("delete", 0.25), ("read", 0.25))


@dataclass
class State:
    root: str
    client: DeltaLakeClient
    rng: random.Random
    model: dict[int, list[int]] = field(default_factory=dict)
    next_v: int = 0


class OltpCommits:
    name = "oltp_commits"
    tail = 0.99
    cycle_steps = 100  # ops
    # nominal: 20 s of run time is 15 cycles, and the log grows to about
    # 1,100 versions, so per-op cost at both ends of that length shows
    cycle_s = 1.3
    setup_reps = 5
    warmup_ops = 30

    def __init__(self, spark, inputs_dir: str, seed: int, scale: float = 1.0):
        self.spark = spark
        self.seed = seed
        self.num_keys = max(10, int(NUM_KEYS * scale))

    def setup(self, root: str, rec) -> State:
        c = DeltaLakeClient(self.spark, root, dataobject_size=10)
        st = State(root=root, client=c, rng=random.Random(self.seed))
        c.new_tx()
        c.create_table(TABLE, "k BIGINT, v BIGINT")
        for k in range(self.num_keys):
            c.write_row(TABLE, [k, k])
            st.model[k] = [k]
        c.commit_tx()
        st.next_v = self.num_keys
        for _ in range(self.warmup_ops):
            self.step(st, rec)
        return st

    def step(self, st: State, rec) -> None:
        c = st.client
        r = st.rng.random()
        k = st.rng.randrange(self.num_keys)
        if r < MIX[0][1]:
            v = st.next_v
            st.next_v += 1
            with rec.op("append", rows=1):
                c.new_tx()
                c.write_row(TABLE, [k, v])
                c.commit_tx()
                st.model.setdefault(k, []).append(v)
        elif r < MIX[0][1] + MIX[1][1]:
            with rec.op("delete"):
                c.new_tx()
                c.delete_rows(TABLE, "k", k, k)
                c.commit_tx()
                st.model.pop(k, None)
        else:
            with rec.op("read"):
                c.new_tx()
                n = c.table_row_count(TABLE)
                c.commit_tx()
                rec.check(
                    n == sum(len(vs) for vs in st.model.values()),
                    f"table_row_count {n} != model",
                )
        if c.tx is not None:  # an op failed mid-transaction
            c.abort_tx()

    def verify(self, st: State, rec) -> None:
        """Every live row against the model (one Spark scan, untimed)."""
        c = st.client
        c.new_tx()
        rows = c.scan(TABLE, with_stamps=False).collect()
        c.abort_tx()
        got = sorted((r["k"], r["v"]) for r in rows)
        want = sorted((k, v) for k, vs in st.model.items() for v in vs)
        rec.check(got == want, f"final scan: {len(got)} rows vs {len(want)} in model")

    def roots(self, st: State) -> list[str]:
        return [st.root]
