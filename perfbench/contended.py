"""``contended_writers``: three ``DeltaLakeClient``s share one store and
are driven from one thread in a seeded interleaving.

Each round all three open a transaction at the same version and stage
one small op on a skewed (Zipf-like) hot-key set: a one-row append, a
point delete, or a MERGE of at most 10 keys (one MERGE every 64
rounds). They then commit in a seeded order. ``commit_tx`` reconciles
and restamps admissible collisions itself; a transaction it rejects
with ``ConcurrentCommitError`` is retried whole through ``run_tx``. The
model applies each committed transaction in commit order (a delete that
found nothing writes no record and so is a no-op), and every round
checks that each transaction either committed whole or raised.
"""

from __future__ import annotations

import itertools
import random
from dataclasses import dataclass, field

from delta_lake_experiment_spark.client import DeltaLakeClient
from delta_lake_experiment_spark.errors import ConcurrentCommitError

TABLE = "hot"
NUM_KEYS = 200
CLIENTS = 3
# op kinds per round, shuffled over the clients: one cycle is 64 rounds
# with a single Spark-executed MERGE, so the fast commit path fills most
# of the run. Runs measure whole cycles: every run has the same mix.
ROUNDS = (("append", "delete", "merge"),) + (
    ("append", "append", "delete"),
    ("append", "delete", "delete"),
) * 31 + (("append", "append", "delete"),)
MERGE_MAX_KEYS = 10


@dataclass
class State:
    root: str
    clients: list[DeltaLakeClient]
    rng: random.Random
    model: dict[int, list[int]] = field(default_factory=dict)
    next_v: int = 0
    next_tx: int = 0
    round: int = 0


class ContendedWriters:
    name = "contended_writers"
    tail = 0.85
    # a measured cycle is a quarter of ROUNDS; the one MERGE in four
    # cycles shows in merge_p50_ms
    cycle_steps = len(ROUNDS) // 4  # rounds
    cycle_s = 0.85
    setup_reps = 5

    def __init__(self, spark, inputs_dir: str, seed: int, scale: float = 1.0):
        self.spark = spark
        self.seed = seed
        self.num_keys = max(10, int(NUM_KEYS * scale))
        # Zipf(1) weights: a few keys take most of the traffic
        self.cum_weights = list(
            itertools.accumulate(1.0 / (i + 1) for i in range(self.num_keys))
        )

    def setup(self, root: str, rec) -> State:
        clients = [
            DeltaLakeClient(self.spark, root)
            for _ in range(CLIENTS)
        ]
        st = State(root=root, clients=clients, rng=random.Random(self.seed))
        c = clients[0]
        c.new_tx()
        c.create_table(TABLE, "k BIGINT, v BIGINT", primary_keys=["k"])
        for k in range(self.num_keys):
            c.write_row(TABLE, [k, k])
            st.model[k] = [k]
        c.commit_tx()
        st.next_v = self.num_keys
        # warm-up: one contended round, which holds a MERGE (the only
        # Spark-executed op kind)
        self.step(st, rec)
        st.round = 0  # the measured loop starts a fresh cycle
        return st

    def _hot_key(self, rng: random.Random) -> int:
        return rng.choices(range(self.num_keys), cum_weights=self.cum_weights)[0]

    def _plan(self, st: State, kind: str):
        """One seeded op of ``kind``: (kind, rows written, stage
        function, model update). Called for every client before any of
        them commits, so ``st.model`` is the snapshot they all read."""
        rng = st.rng
        if kind == "append":
            k, v = self._hot_key(rng), st.next_v
            st.next_v += 1

            def stage(c):
                c.write_row(TABLE, [k, v])

            def apply(model):
                model.setdefault(k, []).append(v)

            return kind, 1, stage, apply
        if kind == "delete":
            k = self._hot_key(rng)
            # a delete that finds no row writes no log record, so it
            # serializes at its snapshot: a no-op wherever it commits
            present = bool(st.model.get(k))

            def stage(c):
                c.delete_rows(TABLE, "k", k, k)

            def apply(model):
                if present:
                    model.pop(k, None)

            return kind, 0, stage, apply
        keys = sorted({self._hot_key(rng) for _ in range(rng.randint(1, MERGE_MAX_KEYS))})
        rows = [(k, st.next_v + i) for i, k in enumerate(keys)]
        st.next_v += len(rows)
        spark = self.spark

        def stage(c):
            # MERGE on a multi-version table appends the source row as
            # the key's newest version whether it matched or not
            c.merge(TABLE, spark.createDataFrame(rows, "k BIGINT, v BIGINT"))

        def apply(model):
            for k, v in rows:
                model.setdefault(k, []).append(v)

        return kind, len(rows), stage, apply

    def step(self, st: State, rec) -> None:
        """One round: stage on every client at one version, then commit
        in seeded order."""
        kinds = list(ROUNDS[st.round % len(ROUNDS)])
        st.round += 1
        st.rng.shuffle(kinds)
        plans = [self._plan(st, kind) for kind in kinds]
        staged_txs = []
        for c, (kind, rows, stage, apply) in zip(st.clients, plans):
            tx_seq = st.next_tx
            st.next_tx += 1
            try:
                with rec.tracer.op(tx_seq, kind):
                    wall0, cpu0 = rec.clock()
                    c.new_tx()
                    stage(c)
                    wall1, cpu1 = rec.clock()
                    staged = (wall1 - wall0, cpu1 - cpu0)
            except Exception as e:
                c.abort_tx()
                rec.attempted += 1
                rec.fail(f"{kind} stage: {type(e).__name__}: {e}")
                continue
            staged_txs.append((c, tx_seq, kind, rows, stage, apply, staged))
        order = list(range(len(staged_txs)))
        st.rng.shuffle(order)
        for i in order:
            c, tx_seq, kind, rows, stage, apply, staged = staged_txs[i]
            try:
                with rec.tracer.op(tx_seq, kind):
                    wall0, cpu0 = rec.clock()
                    try:
                        c.commit_tx()
                    except ConcurrentCommitError:
                        rec.bump("conflicts")
                        try:
                            c.run_tx(stage)
                        except ConcurrentCommitError:
                            # still conflicting after run_tx's retries:
                            # expected under contention, not an error
                            rec.bump("abandoned")
                            rec.attempted += 1
                            continue
                    wall1, cpu1 = rec.clock()
            except Exception as e:
                rec.attempted += 1
                rec.fail(f"{kind} commit: {type(e).__name__}: {e}")
                continue
            apply(st.model)
            rec.add_sample(kind, staged[0] + wall1 - wall0, staged[1] + cpu1 - cpu0, rows)
        c = st.clients[0]
        c.new_tx()
        n = c.table_row_count(TABLE)
        c.abort_tx()
        rec.check(
            n == sum(len(vs) for vs in st.model.values()),
            f"row count {n} != model after round",
        )

    def verify(self, st: State, rec) -> None:
        c = st.clients[0]
        c.new_tx()
        rows = c.scan(TABLE, with_stamps=False).collect()
        c.abort_tx()
        got = sorted((r["k"], r["v"]) for r in rows)
        want = sorted((k, v) for k, vs in st.model.items() for v in vs)
        rec.check(got == want, f"final scan: {len(got)} rows vs {len(want)} in model")

    def roots(self, st: State) -> list[str]:
        return [st.root]
